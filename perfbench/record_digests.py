"""Record the corpus_curation result digests in perfbench/digests.json.

    python3 perfbench/record_digests.py

For each of the N_CORPORA seed-generated corpora it runs each chain
query's DuckDB oracle (registry.ORACLES) over the corpus's parquet files
and records the sorted-row md5 digest and row count of the oracle's
result: the oracle is the reference, so a run passes only when the
engine's rows equal it. The query is also run in Spark (the benchmark's
own code path) and the outcome is recorded next to the digest as
"engine": "match", or how the engine's rows differ from the oracle's.

ISO SQL leaves the rounding of an approximate (DOUBLE) value cast to an
exact type to the implementation. DuckDB scales the double by 10^6 in
binary and rounds that; Spark rounds the double's shortest decimal string
half-up. The two differ only on a double within an ulp of a rounding tie
(0.6638124999999999 is 0.663813 in DuckDB and 0.663812 in Spark). So the
oracle is also run with each such cast routed through VARCHAR, DuckDB's
own string-to-decimal cast rounding the shortest string half-up; where its
digest differs it is recorded as "tie_digest", the other correct answer.
Both digests come from DuckDB; the engine's output is never recorded.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import REPO, log, start_spark, stop_spark  # noqa: E402

sys.path.insert(0, REPO)

from curation import DIGESTS, N_CORPORA, SCALE, corpus_dir, digest  # noqa: E402
from corpus import N_DOCS  # noqa: E402
from metrics import CURATION_QUERIES  # noqa: E402


_CAST = re.compile(r"CAST\((\w+) AS DECIMAL\((\d+),(\d+)\)\)")


def tie_rounding_oracle(sql: str) -> str:
    """The oracle with every column-to-DECIMAL cast rounding the value's
    shortest decimal string half-up instead of the binary double."""
    return _CAST.sub(r"CAST(CAST(\1 AS VARCHAR) AS DECIMAL(\2,\3))", sql)


def _engine_note(spark_pdf, oracle_pdf) -> str:
    """How the engine's rows differ from the oracle's: the largest
    absolute difference per numeric column."""
    if len(spark_pdf) != len(oracle_pdf) or sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return f"differs: {len(spark_pdf)} engine rows vs {len(oracle_pdf)} oracle rows"
    cols = sorted(spark_pdf.columns)
    a = spark_pdf[cols].sort_values(cols, kind="stable").reset_index(drop=True)
    b = oracle_pdf[cols].sort_values(cols, kind="stable").reset_index(drop=True)
    parts = []
    for c in cols:
        try:
            d = (a[c].astype(float) - b[c].astype(float)).abs().max()
        except (TypeError, ValueError):
            if not a[c].equals(b[c]):
                parts.append(f"{c} differs")
            continue
        if d:
            parts.append(f"{c} max abs diff {d:.3g}")
    return "differs: " + ", ".join(parts or ["row order-insensitive values differ"])


def main() -> int:
    import duckdb

    from kstreams_spark import registry

    registry.load_all()
    spark = start_spark("perfbench-record-digests")
    corpora = {}
    try:
        for cid in range(N_CORPORA):
            d = corpus_dir(cid)
            con = duckdb.connect()
            for t in ("documents", "embeddings"):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet/*.parquet')"
                )
            entry = {}
            for q in CURATION_QUERIES:
                t0 = time.time()
                opdf = con.execute(registry.ORACLES[q]).fetchdf()
                want, rows = digest(opdf)
                tie_sql = tie_rounding_oracle(registry.ORACLES[q])
                tie = (want, rows)
                if tie_sql != registry.ORACLES[q]:
                    tie = digest(con.execute(tie_sql).fetchdf())
                spdf = registry.QUERIES[q](spark, d).toPandas()
                got = digest(spdf)[0]
                if got == want:
                    note = "match"
                elif got == tie[0]:
                    note = "match (tie rounding)"
                else:
                    note = _engine_note(spdf, opdf)
                entry[q] = {"digest": want, "rows": rows, "engine": note}
                if tie != (want, rows):
                    entry[q]["tie_digest"] = tie[0]
                log(f"corpus {cid} {q}: {rows} rows, engine {note} ({time.time() - t0:.0f} s)")
            con.close()
            corpora[str(cid)] = entry
    finally:
        stop_spark(spark)
    with open(DIGESTS, "w") as fh:
        json.dump({"scale": SCALE, "base_docs": N_DOCS, "corpora": corpora}, fh, indent=1)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
