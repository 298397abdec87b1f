"""Generate OPMAP.md: the auditable query → oracle-type → description
map for every harness query.

Run `python tools/gen_opmap.py` after adding queries. The table is read
through the driver contract (`__spark_entry__.queries()` and
`oracle_sql()`, both derived from the `@query` registry in
`databricks_flight_etl_spark/registry/`), in `queries()` order: the 50
driver-window queries first. Each description is the query's docstring,
so the table can't drift from the code. README links here instead of
restating 200+ rows in prose.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    import __spark_entry__ as entry

    qs = entry.queries()
    oracles = entry.oracle_sql()

    lines = [
        "# OPMAP — harness query inventory (generated)",
        "",
        "Generated by `python tools/gen_opmap.py` from the live",
        "`queries()` / `oracle_sql()` registries — regenerate after",
        "adding queries; do not edit by hand.",
        "",
        "**oracle = certified**: the driver and `tools/check_oracle.py`",
        "run the query on Spark AND the listed DuckDB SQL on the same",
        "parquet and compare row counts, column names, and exact cell",
        "values. **oracle = rows-only**: hash-seeded/approximate by",
        "design; each has a certified exact twin (named in its",
        "description) and deterministic unit tests.",
        "",
        f"{len(qs)} queries, "
        f"{sum(1 for k in qs if k in oracles)} certified, "
        f"{sum(1 for k in qs if k not in oracles)} rows-only.",
        "",
        "LSH pre-flight guard (round 9): `minhash_dedup_pairs` /",
        "`simhash_near_dup_pairs` run a default-on entropy check",
        "(`guard='warn'|'raise'|'off'`) that estimates background",
        "Jaccard and flags corpora where banded/pigeonhole candidate",
        "generation would go quadratic (the round-8 ENOSPC regime)",
        "unless `max_df`/`max_df_frac`/`stops=` mitigation is passed —",
        "`max_df_frac` is the corpus-relative cap ceil(frac·n_docs)",
        "certified by q_minhash_stopshingle_frac (the oracle replays",
        "the fraction-to-count resolution itself).",
        "",
        "| query | oracle | what it certifies |",
        "|---|---|---|",
    ]
    for name, fn in qs.items():
        doc = (fn.__doc__ or "").strip().replace("\n", " ")
        doc = " ".join(doc.split())
        if len(doc) > 160:
            doc = doc[:157] + "..."
        doc = doc.replace("|", "\\|")
        kind = "certified" if name in oracles else "rows-only"
        lines.append(f"| {name} | {kind} | {doc} |")
    out = "\n".join(lines) + "\n"
    with open(os.path.join(ROOT, "OPMAP.md"), "w") as f:
        f.write(out)
    print(f"wrote OPMAP.md: {len(qs)} queries")


if __name__ == "__main__":
    main()
