"""Decompose the ANN serving queries into index BUILD vs warm SERVE.

r6 verdict item 3: the 100x scaling table reports q65/q156 as single
numbers with quantizer/codebook training folded into first touch, so a
serve-path regression could hide under build cost. This tool times the
two phases separately against any warehouse directory:

  * q65 build   — train the coarse quantizer (3 Lloyd rounds) and
                  materialize the IVF cell assignment artifact.
  * q65 serve   — the probe->score->top-k path over the warm artifact
                  (best of 2 runs, like the bench's per-query protocol).
  * q156 build  — PQ codebooks + corpus codes ON TOP of the shared
                  coarse quantizer (the IVF routing artifacts are
                  counted once, under q65 build, exactly as a shared
                  deployment amortizes them).
  * q156 serve  — ADC + exact-refine over the warm artifacts.
  * q61 exact   — the brute-force scan baseline the recalls are
                  measured against.

Prints ONE JSON line; run per decade and record in SCALE.md:

  ANN_SF=/tmp/sf_x100 python tools/ann_decompose.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

SF = os.environ.get("ANN_SF", "/root/testdata/sf0.1")


def _topk_sets(rows) -> dict[int, set[int]]:
    out: dict[int, set[int]] = {}
    for r in rows:
        out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return out


def _recall(truth: dict[int, set[int]], got: dict[int, set[int]]) -> float:
    hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
    return round(hits / sum(len(v) for v in truth.values()), 4)


def _serve(fn, spark, sf_dir: str) -> tuple[float, list]:
    """Best-of-2 warm executions; returns (seconds, rows of best run)."""
    best, rows = float("inf"), None
    for _ in range(2):
        t0 = time.monotonic()
        r = fn(spark, sf_dir).collect()
        dt = time.monotonic() - t0
        if dt < best:
            best, rows = dt, r
    return round(best, 3), rows


def main() -> None:
    from ecowatt_etl_spark.queries import similarity_queries as sq
    from ecowatt_etl_spark.queries.registry import all_queries
    from ecowatt_etl_spark.session import evict_session_artifacts, get_spark
    from ecowatt_etl_spark.sources.tables import load_table

    spark = get_spark(app_name="ann-decompose")
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_queries()
    evict_session_artifacts(spark)  # build cost is measured cold

    em = load_table(spark, SF, "embeddings")

    t0 = time.monotonic()
    cent = sq._trained_centroids(spark, SF, em)
    sq._ivf_cells(spark, SF, em, F.broadcast(cent))
    q65_build = round(time.monotonic() - t0, 3)

    q65_serve, q65_rows = _serve(specs["q65_ivf_topk"].fn, spark, SF)

    t0 = time.monotonic()
    sq._pq_codes(spark, SF, em)  # trains codebooks internally
    sq._pq_codebooks_all(spark, SF, em)
    q156_build = round(time.monotonic() - t0, 3)

    q156_serve, q156_rows = _serve(specs["q156_ivfpq_topk"].fn, spark, SF)

    t0 = time.monotonic()
    exact_rows = specs["q61_cosine_topk"].fn(spark, SF).collect()
    q61_exact = round(time.monotonic() - t0, 3)

    truth = _topk_sets(exact_rows)
    print(
        json.dumps(
            {
                "sf_dir": SF,
                "n_vectors": em.count(),
                "q61_exact_s": q61_exact,
                "q65": {
                    "build_s": q65_build,
                    "serve_s": q65_serve,
                    "recall": _recall(truth, _topk_sets(q65_rows)),
                },
                "q156": {
                    "build_s": q156_build,
                    "serve_s": q156_serve,
                    "recall": _recall(truth, _topk_sets(q156_rows)),
                },
            }
        )
    )


if __name__ == "__main__":
    main()
