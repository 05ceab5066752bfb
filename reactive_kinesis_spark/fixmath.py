"""Engine-portable fixed-point math.

The driver hash-compares Spark results against DuckDB, so every numeric
step must be bit-identical cross-engine. Exact integer arithmetic and
single correctly-rounded IEEE ops qualify; transcendental library calls
(``log``, ``ln``, ``log2``) do NOT — libm rounding is not specified, so
two engines may disagree in the last ulp and the hash gate flips on it.
q158 solved this for nDCG by *baking* the finitely-many log values it
needs as an integer constant table; that trick cannot price a log of an
arbitrary data-dependent count (a word frequency, a corpus size).

:func:`log2_fixed_items` closes that gap: a **fixed-point binary
logarithm computed only from exact int64 arithmetic and exact IEEE
power-of-two divisions**, so the result is a deterministic function of
the input bits — the same BIGINT in both engines — and any certified
query may take logarithms of data-dependent values. It unlocks the
Shannon-entropy / Zipf-slope / Naive-Bayes-log-odds family of corpus
audits as hash-certified operators.

Construction (the classical shift-and-square algorithm):

* ``e = floor(log2(c)) = length(bin(c)) - 1`` — exact, both engines
  print two's-complement binary for BIGINT.
* mantissa state ``x0 = floor(c * 2^(S-e))`` with ``S = 25`` fractional
  bits, so ``x`` always sits in ``[2^25, 2^26)`` (i.e. ``m ∈ [1, 2)``).
* 12 rounds of: square (int64 exact — products stay under ``2^52``),
  rescale by ``2^-25`` (an IEEE division by a power of two is exact; the
  following ``floor`` is exact), and emit one result bit: if the squared
  mantissa reached 2, the bit is 1 and the state halves.
* result ``log2_q12 = e * 4096 + (the 12 extracted bits)`` — a Q12
  fixed-point log2, i.e. ``log2(c) ≈ log2_q12 / 4096``.

Why every step is portable:

* ``bin``/``length``/``CASE``/int64 ``*``/``+`` — exact integer ops.
* ``x / 33554432.0`` and ``s / 2.0`` — the int64 operand is ≤ 2^52 so
  the implicit cast to double is exact, and dividing by a power of two
  only shifts the exponent: the quotient is exact, ``floor`` of it is
  exact, the cast back to BIGINT is exact.
* the one input-quantization step for huge counts (``c ≥ 2^26``:
  ``floor(c / 2^(e-25))``) rounds ``c`` to double first — a single
  correctly-rounded IEEE conversion, identical in both engines.

Accuracy (documented, NOT load-bearing for certification): the state
truncates to 25 fractional bits each round and squaring doubles the
accumulated relative error, so after 12 rounds the error is
``≲ 2^12 · 2^-25 = 2^-13`` — the Q12 output is within ~1 unit (2.4e-4)
of true ``log2``. ``tests/test_fixmath.py`` pins this against
``math.log2`` over exhaustive small values and power-of-two boundaries.
Certification never depends on closeness to true log2 — only on both
engines executing the identical exact-arithmetic program.

The generator emits ONE list of SQL select-items consumed verbatim by
both engines (DuckDB splices them into a CTE; Spark runs them through
chained ``selectExpr``) — there is no separate Spark implementation to
drift from the oracle.

Scale shape: the per-row cost is ~40 integer ops with no shuffle, and
callers apply it to *vocabulary-sized* frames (distinct counts), never
to the token stream — see the q176/q177/q178 operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: Fractional bits of the Q-format result (log2_q = round-ish(log2(c) * 2**12)).
LOG2_FRAC_BITS = 12
#: The fixed-point scale of the result: divide by this to get log2(c).
LOG2_SCALE = 1 << LOG2_FRAC_BITS  # 4096

_S = 25  # mantissa state fractional bits
_HALF = float(1 << _S)  # 33554432.0 — exact power-of-two divisor
_TWO = 1 << (_S + 1)  # 67108864 — the "reached 2" threshold


def log2_fixed_items(src: str, out: str, prefix: str | None = None) -> list[str]:
    """SQL select-items computing ``{out} = fixed-point log2({src})``.

    ``src`` is a SQL expression of a BIGINT ≥ 1 (callers smooth zero
    counts with ``+1``); ``out`` is the alias of the final Q12 BIGINT.
    Intermediate aliases are prefixed with ``__{prefix or out}_`` so
    several applications can share one SELECT chain. Each item may
    reference aliases of EARLIER items only (no lateral self-reference
    inside one item), so the list can be applied as chained projections
    in either engine; :func:`with_log2_fixed` does so for Spark, and
    :func:`log2_fixed_ctes` for a DuckDB oracle.
    """
    p = f"__{prefix or out}_"
    e = f"{p}e"
    items = [
        f"CAST(length(bin({src})) - 1 AS BIGINT) AS {e}",
        # carry the (possibly complex) src expression once, by value
        f"CAST({src} AS BIGINT) AS {p}c",
    ]
    items.append(
        f"CASE WHEN {e} <= {_S} THEN {p}c * CAST(power(2.0, {_S} - {e}) AS BIGINT) "
        f"ELSE CAST(floor({p}c / power(2.0, {e} - {_S})) AS BIGINT) END AS {p}x0"
    )
    items.append(f"CAST(0 AS BIGINT) AS {p}a0")
    for i in range(1, LOG2_FRAC_BITS + 1):
        items.append(
            f"CAST(floor(({p}x{i - 1} * {p}x{i - 1}) / {_HALF}) AS BIGINT) AS {p}s{i}"
        )
        items.append(
            f"CASE WHEN {p}s{i} >= {_TWO} THEN CAST(floor({p}s{i} / 2.0) AS BIGINT) "
            f"ELSE {p}s{i} END AS {p}x{i}"
        )
        items.append(
            f"{p}a{i - 1} * 2 + (CASE WHEN {p}s{i} >= {_TWO} THEN 1 ELSE 0 END) AS {p}a{i}"
        )
    items.append(f"{e} * {LOG2_SCALE} + {p}a{LOG2_FRAC_BITS} AS {out}")
    return items


def with_log2_fixed(df: DataFrame, src: str, out: str, prefix: str | None = None) -> DataFrame:
    """Append ``out`` (Q12 fixed-point log2 of SQL expression ``src``) to a
    Spark frame by running :func:`log2_fixed_items` in ONE ``selectExpr``
    — items reference earlier items' aliases laterally (Spark ≥ 3.4
    lateral column aliases, on by default; the analyzer expands them to
    the same nested projections the old 40-call chain built, in one
    analysis pass). All intermediates are dropped. Narrow (no shuffle):
    Catalyst collapses everything into one Project over the scan, and the
    emitted values are bit-identical to the chained form (same item
    list). r15: the chained form cost ~40 py4j + analysis round-trips PER
    CHAIN, 1.5 s of pure driver-side plan construction on the 4-chain
    q177 (guide §5 "very large query plans are driver-side work");
    measured 1.33 s → 0.42 s for one cold chain build.

    Raises ``ValueError`` when an input column already starts with the
    intermediate prefix ``__{prefix or out}_``: it would shadow a lateral
    alias and then be dropped with the intermediates."""
    p = f"__{prefix or out}_"
    clash = [c for c in df.columns if c.lower().startswith(p.lower())]
    if clash:
        raise ValueError(
            f"input columns {clash} start with the intermediate prefix {p!r}; "
            "rename them or pass another prefix"
        )
    items = log2_fixed_items(src, out, prefix=prefix)
    cur = df.selectExpr("*", *items)
    keep = [c for c in cur.columns if not c.startswith(p)]
    return cur.select(*keep)


def log2_fixed_ctes(
    table: str, cols: str, src: str, out: str, name: str, prefix: str | None = None
) -> str:
    """One DuckDB CTE body applying :func:`log2_fixed_items` to ``table``:
    ``{name} AS (SELECT {cols}, {out} FROM (...chain...))``. ``cols`` is
    the comma-joined passthrough column list. The chain nests one
    subquery per item group — DuckDB flattens these; the text stays
    byte-derived from the same items Spark executes."""
    items = log2_fixed_items(src, out, prefix=prefix)
    inner = table
    for item in items:
        inner = f"(SELECT *, {item} FROM {inner})"
    return f"{name} AS (SELECT {cols}, {out} FROM {inner})"
