"""Generate PLANS.md: a physical-plan audit of every harness query.

For each ``queries()`` entry (the ``@query`` registry in
``databricks_flight_etl_spark/registry/``, read through
``__spark_entry__``), build the DataFrame at the given sf_dir
(default sf0.001 — plan SHAPE, not data, is what's audited; shapes match
at higher SFs except where AQE swaps broadcast⇄SMJ by size) and record
plans.plan_audit: shuffle count, join strategies, pushed filters, scan
schema widths. Run after adding queries:

    python tools/audit_plans.py [sf_dir] > PLANS.md
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def generate(sf_dir: str, out=None) -> None:
    """Write the full PLANS table to ``out`` (default: stdout).

    Importable so bench.py can regenerate PLANS.md in-process at the end
    of every bench run (same live SparkSession) — the round-7 lapse was
    adding queries without re-running this audit by hand.
    """
    if out is None:
        out = sys.stdout

    import __spark_entry__ as entrymod
    from databricks_flight_etl_spark import plans
    from databricks_flight_etl_spark.session import get_spark

    spark = get_spark("plan-audit")

    w = lambda s="": print(s, file=out)  # noqa: E731
    w("# PLANS — physical-plan audit of every harness query")
    w()
    w(f"Auto-generated by `python tools/audit_plans.py {sf_dir}`.")
    w("`shuffles` excludes broadcast exchanges; `scan cols` is the")
    w("number of columns each file scan actually reads (column")
    w("pruning); `pushed` is the count of filters reaching a scan;")
    w("`λfilt` counts Filter nodes that evaluate a higher-order-")
    w("function lambda — the expensive-inferred-filter tripwire")
    w("(plans.lambda_filters): non-zero means a computed-array")
    w("expression is re-run inside a pushed filter (pinned subtrees")
    w("excluded — their filters run once at materialization). The")
    w("rows still non-zero after round 8 (lm_score, line_dedup, bm25,")
    w("quantize_int8) were inspected: each is a deliberate semantic")
    w("filter duplicating one cheap split/transform (~2x one")
    w("expression per row), not the 15x regexp-per-position shape the")
    w("tripwire exists for.")
    w()
    w("Every column reads the physical plan BEFORE execution, so before")
    w("AQE's run-time exchange reuse: `scan cols` lists one entry per")
    w("consumer of a file scan and `pushed` counts that consumer's")
    w("filters, even where the run shares one scan among several")
    w("consumers. A multi-consumer plan over a file source (a value")
    w("histogram read by its bounds, bucket sums and window join) thus")
    w("reads as more I/O than it does: `q_ks_drift` lists 5 scans")
    w("here, while its executed plan at sf0.1 holds 2 file scans and")
    w("3 reused exchanges.")
    w()
    w("| query | shuffles | bcast joins | SMJ | topk | pushed | scan cols | λfilt |")
    w("|---|---|---|---|---|---|---|---|")

    for name, fn in entrymod.queries().items():
        try:
            # clear at ITERATION ENTRY, not only after: generate()
            # also runs in-process from bench.py's live session, and
            # a bench re-time loop that breaks on an exception can
            # leave pinned intermediates cached — entry-clearing
            # keeps even the FIRST audited row cold regardless of
            # what the calling session did before.
            try:
                spark.catalog.clearCache()
            except Exception:  # noqa: BLE001
                pass
            df = fn(spark, sf_dir)
            a = plans.plan_audit(df)
            widths = ",".join(
                str(s.count(":")) for s in a["read_schemas"]
            ) or "-"
            w(
                f"| {name} | {a['n_shuffles']} | {a['n_broadcast_joins']} "
                f"| {a['n_sortmerge_joins']} "
                f"| {'✓' if a['has_take_ordered'] else ''} "
                f"| {len(a['pushed_filters'])} | {widths} "
                f"| {a.get('n_lambda_filters', 0) or ''} |"
            )
        except Exception as exc:  # noqa: BLE001 - audit must not abort
            w(f"| {name} | audit error: {type(exc).__name__} | | | | | | |")
        finally:
            # Audit COLD plans, order-invariantly: operators persist
            # shared intermediates (dedup._pin et al.), and a cache
            # entry left by an earlier-audited query substitutes an
            # InMemoryRelation into later queries' plans — whose
            # formatted explain then ALSO prints the cached child's
            # exchanges, inflating their counted shuffles. Round 10
            # measured the artifact: reordering the registry moved
            # q_minhash_stopshingle's audited row from 7/7 to 11/12
            # shuffles/broadcasts with zero code change.
            try:
                spark.catalog.clearCache()
            except Exception:  # noqa: BLE001
                pass


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    generate(sf_dir)


if __name__ == "__main__":
    main()
