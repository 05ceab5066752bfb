"""End-to-end live-AWS integration: tools/live_integration.py against an
in-process moto Kinesis server — the engine's executable analog of the
reference's localstack `it:test` suite (it/.../common/KinesisSuite.scala:
283-302; it/.../stream/KinesisSourceGraphStageIntegrationSpec.scala:26-129).

The harness itself is endpoint-agnostic (point RKS_LIVE_ENDPOINT at
localstack or real AWS); here it runs against a real local HTTP endpoint so
every boto3 call crosses a genuine wire. Skipped with an explicit capability
reason when moto is absent.
"""

from __future__ import annotations

import os
import socket
import subprocess
import sys

import pytest


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def test_live_integration_harness_passes_against_moto():
    # bounded by the subprocess timeout below; no pytest-timeout dependency
    pytest.importorskip(
        "moto.server",
        reason="env capability absent: moto (local AWS API server) not installed",
    )
    from moto.server import ThreadedMotoServer

    port = _free_port()
    server = ThreadedMotoServer(port=port, verbose=False)
    server.start()
    try:
        env = dict(
            os.environ,
            RKS_LIVE_ENDPOINT=f"http://127.0.0.1:{port}",
            AWS_ACCESS_KEY_ID="test",
            AWS_SECRET_ACCESS_KEY="test",
        )
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        proc = subprocess.run(
            [sys.executable, os.path.join(repo, "tools", "live_integration.py")],
            env=env,
            cwd=repo,
            capture_output=True,
            text=True,
            timeout=500,
        )
        assert proc.returncode == 0, (
            f"harness failed rc={proc.returncode}\n"
            f"stdout:\n{proc.stdout[-2000:]}\nstderr:\n{proc.stderr[-2000:]}"
        )
        assert '"result": "PASS"' in proc.stdout
        assert '"total_exactly_once": 460' in proc.stdout
    finally:
        server.stop()
