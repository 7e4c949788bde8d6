"""Plan ledger: operator counts of every registered query's physical plan.

Counts the operators that matter at scale — shuffles (Exchange), scans,
broadcast vs shuffle joins, Python (Arrow) stages, generators, windows,
sorts, cartesian products and row-at-a-time Python — for every
``queries()`` + ``extra_queries()`` entry and the library pipelines,
built at sf0.001 (pre-AQE-execution plans). ``tests/plan_ledger.json``
holds the committed counts; ``tests/test_plan_discipline.py`` fails
when one rises and asks for a rewrite when one falls.

CPU-bound queries carry one fan-out Exchange from ``_fan()`` (the
testdata parquet is one row group, so the scan cannot split it).
Queries that ``localCheckpoint`` a subtree before a self-join show the
post-checkpoint plan (``Scan ExistingRDD``), so their scan and Python
counts exclude the one-time materialization.

Usage: python tools/plan_audit.py    # rewrites tests/plan_ledger.json
"""

from __future__ import annotations

import itertools
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LEDGER = os.path.join(REPO, "tests", "plan_ledger.json")

_COUNTERS = {
    "exchanges": r"\bExchange\b",
    "scans": r"\bFileScan|Scan parquet",
    "bcast_joins": r"BroadcastHashJoin|BroadcastNestedLoop",
    "shuffle_joins": r"SortMergeJoin|ShuffledHashJoin",
    "python": r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas",
    "generates": r"\bGenerate\b",
    "windows": r"\bWindow\b",
    "sorts": r"\bSort\b",
    "cartesian": r"CartesianProduct",
    "row_python": r"BatchEvalPython",
}


def summarize(plan: str) -> dict:
    return {k: len(re.findall(rx, plan)) for k, rx in _COUNTERS.items()}


def _library_pipelines(spark, sf_dir: str):
    """(name, DataFrame) pairs for scale-relevant ungraded surfaces."""
    from carbon_clickhouse_spark.datapipe import bpe
    from carbon_clickhouse_spark.datapipe.pack import pack_token_ids

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    yield "bpe_word_frequencies", bpe.word_frequencies(docs, max_words=10_000)
    model = bpe.train_bpe(docs.limit(50), vocab_size=150)
    enc = bpe.bpe_encode(docs, model)
    yield "bpe_encode", enc
    yield (
        "pack_token_ids",
        pack_token_ids(enc, seq_len=256, eos_id=len(model.vocab)),
    )


def plans(spark) -> dict:
    """name -> executed-plan string for every ledger name."""
    import __spark_entry__ as entry

    sf_dir = entry.SF_DEFAULT  # sf0.001
    registry = {**entry.queries(), **entry.extra_queries()}
    # lazy: each plan is taken before the next query is built
    frames = itertools.chain(
        ((name, fn(spark, sf_dir)) for name, fn in registry.items()),
        _library_pipelines(spark, sf_dir),
    )
    return {
        name: df._jdf.queryExecution().executedPlan().toString()
        for name, df in frames
    }


def main() -> None:
    sys.path.insert(0, REPO)
    from carbon_clickhouse_spark.session import get_spark

    # the session of tests/conftest.py, so the tool and the gate
    # count the same plans (_fan() plans an Exchange by core count)
    spark = get_spark(app_name="ccs-tests", master="local[4]", shuffle_partitions=8)
    ledger = {n: summarize(p) for n, p in plans(spark).items()}
    # one line per name, so a changed count is a one-line diff
    rows = [
        f"  {json.dumps(n)}: {json.dumps(ledger[n], sort_keys=True)}"
        for n in sorted(ledger)
    ]
    with open(LEDGER, "w") as fh:
        fh.write("{\n" + ",\n".join(rows) + "\n}\n")
    print(f"wrote {len(ledger)} names to {LEDGER}")


if __name__ == "__main__":
    main()
