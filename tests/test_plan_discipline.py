"""Plan discipline as a GATE, not just a report: every registered
query's physical plan (graded window + extra registry, built at
sf0.001) and the library pipelines of tools/plan_audit.py must be free
of the scale-killers — cartesian products and row-at-a-time Python —
and shuffle joins are held to the explicit whitelist of queries whose
semantics inherently shuffle both sides. tests/plan_ledger.json holds
every name's operator counts: a count that rises is red, a count that
falls asks for `python tools/plan_audit.py` and a committed ledger."""

import importlib.util
import json
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_plan_audit():
    path = os.path.join(REPO, "tools", "plan_audit.py")
    spec = importlib.util.spec_from_file_location("plan_audit", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


plan_audit = _load_plan_audit()

# queries whose algorithm inherently joins two large sides (verdict-
# acknowledged): LSH survivor/cluster resolution joins bucket pairs,
# DSIR's weighted draw joins scores to thresholds. Everything else
# must broadcast or avoid the join.
SHUFFLE_JOIN_WHITELIST = {
    "dedup_survivors": 1,
    "dedup_clusters": 1,
    # dsir_resample/dsir_scores left this list in r12: the fused
    # single-groupBy ratio table (importance_log_ratios) removed the
    # full-outer SortMergeJoin of the two bucket distributions
    # r12 span masking: match-bounded hit lists join back to the
    # docs on the SAME doc_id partitioning the groupBy established —
    # one bounded Exchange per side, never an n-gram-keyed shuffle
    "contamination_spans": 1,
}


@pytest.fixture(scope="module")
def counts(spark):
    return {n: plan_audit.summarize(p) for n, p in plan_audit.plans(spark).items()}


def test_no_cartesian_products(counts):
    bad = [n for n, c in counts.items() if c["cartesian"]]
    assert not bad, bad


def test_no_row_at_a_time_python(counts):
    # Arrow stages (ArrowEvalPython / MapInPandas / FlatMapGroupsIn
    # Pandas) are the sanctioned Python path; BatchEvalPython is the
    # pickled row-at-a-time UDF runner and must never appear
    bad = [n for n, c in counts.items() if c["row_python"]]
    assert not bad, bad


def test_shuffle_joins_only_where_whitelisted(counts):
    bad = {}
    for name, c in counts.items():
        n = c["shuffle_joins"]
        if n > SHUFFLE_JOIN_WHITELIST.get(name, 0):
            bad[name] = n
    assert not bad, bad


def test_plan_ledger(counts):
    with open(plan_audit.LEDGER) as fh:
        ledger = json.load(fh)
    missing = sorted(counts.keys() - ledger.keys())
    stale = sorted(ledger.keys() - counts.keys())
    assert not (missing or stale), (
        f"ledger names differ from the registry: missing {missing}, "
        f"stale {stale}; run `python tools/plan_audit.py` and commit "
        "tests/plan_ledger.json"
    )
    rose, fell = [], []
    for name in sorted(counts):
        now, was = counts[name], ledger[name]
        for k in sorted(now.keys() | was.keys()):
            a, b = was.get(k, 0), now.get(k, 0)
            if b != a:
                (rose if b > a else fell).append(f"{name}.{k}: {a} -> {b}")
    assert not rose, "plan counts rose (ledger -> now):\n" + "\n".join(rose)
    assert not fell, (
        "plan counts fell (ledger -> now); run `python tools/plan_audit.py` "
        "and commit tests/plan_ledger.json:\n" + "\n".join(fell)
    )


def test_entropy_final_plan_scans_events_once(spark):
    """The per-group totals and the cells share one scan: after AQE
    runs, the totals' side is a ReusedExchange of the cells' shuffle,
    so the final plan reads events.parquet once."""
    import __spark_entry__ as entry

    df = {**entry.queries(), **entry.extra_queries()}["entropy"](
        spark, entry.SF_DEFAULT
    )
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    final = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    assert final.count("FileScan") == 1, final
    assert final.count("ReusedExchange") == 1, final
