"""Open-loop load generator for the tail phase of the ``kinesis`` workload,
run as its own process:

    python3 -m perfbench.generator '<json config>'

One thread appends non-aggregated records to the stand-in stream in ticks
(``rate * tick_ms / 1000`` records every ``tick_ms``), on a schedule that
does not slow down when the consumer does. Each record carries the time its
tick was due, so consumer latency includes any wait a stall imposes. At the
end it writes how late each tick was sent, and how many records per key it
wrote, to ``out``.
"""

from __future__ import annotations

import json
import sys
import time

from perfbench.connector import payload
from perfbench.standin import StandinKinesis


def generate(cfg: dict) -> dict:
    client = StandinKinesis(cfg["root"], trace_dir=cfg.get("trace_dir"))
    keys, pad, stream = cfg["keys"], cfg["pad"], cfg["stream"]
    per_tick = cfg["rate"] * cfg["tick_ms"] // 1000
    ticks = cfg["seconds"] * 1000 // cfg["tick_ms"]
    seq = cfg["first_seq"]
    late_ms = []
    start = time.time() + 0.05
    for t in range(ticks):
        due = start + t * cfg["tick_ms"] / 1000.0
        now = time.time()
        if now < due:
            time.sleep(due - now)
        late_ms.append((time.time() - due) * 1000.0)
        due_us = int(due * 1_000_000)
        records = []
        for j in range(per_tick):
            key = keys[j % len(keys)]
            records.append({"Data": payload(key, seq + j // len(keys), due_us, pad), "PartitionKey": key})
        seq += per_tick // len(keys)
        resp = client.put_records(StreamName=stream, Records=records)
        if resp["FailedRecordCount"]:
            raise RuntimeError(f"{resp['FailedRecordCount']} records refused at tick {t}")
    client.close()
    return {
        "first_due": start,
        "end": time.time(),
        "per_key": seq - cfg["first_seq"],
        "late_ms": late_ms,
    }


def main(argv: list[str]) -> int:
    cfg = json.loads(argv[1])
    stats = generate(cfg)
    with open(cfg["out"], "w") as fh:
        json.dump(stats, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
