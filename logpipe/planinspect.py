"""Formatted-plan inspection helpers shared by plan-pinning tests
(tests/test_traindata.py and the retired evidence script behind
BENCH/r7_bucketed_rejoin.json previously each carried a regex copy whose
``(?:.+\\n)+?\\n`` block pattern silently dropped an Exchange block at
end-of-string and whose ``next(...)`` crashed on a block without an
Input line — round-7 review). Parsing here is block-based: the
formatted explain output separates operator blocks with blank lines,
so splitting on them cannot lose a trailing block, and a block
without an Input line contributes an empty string instead of raising.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

_EXCHANGE_HEADER = re.compile(r"^\(\d+\) (?:Broadcast)?Exchange\b")


def formatted_plan(df: DataFrame) -> str:
    """The 'formatted'-mode explain string (header tree + per-operator
    detail blocks)."""
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def exchange_input_lines(df: DataFrame) -> list[str]:
    """One entry per (Broadcast)Exchange operator in the formatted
    plan: its ``Input [...]`` detail line (the attributes the exchange
    moves), or ``""`` if the block carries none. Use to count
    payload-bearing exchanges: an Input line naming text/token-array
    attributes is a corpus payload move; ids/scalars-only is not."""
    out = []
    for block in formatted_plan(df).split("\n\n"):
        lines = block.splitlines()
        if lines and _EXCHANGE_HEADER.match(lines[0]):
            out.append(
                next((ln for ln in lines if ln.startswith("Input")), "")
            )
    return out
