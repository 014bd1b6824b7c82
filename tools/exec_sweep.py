"""Full-registry EXECUTION sweep at an arbitrary (usually 100×) scale.

The parity sweeps prove correctness against DuckDB at sf0.01/sf0.1;
this tool proves something they cannot: that every registered query
RUNS at two decades above the gate scale — the q175 lesson is that a
whole failure class (AQE size misestimation through distinct/window
lineage → corpus-scale broadcast build → OOM) only manifests at 100×,
where per-query decade probes had always been selective, never
exhaustive. One session, sequential, JSONL as it goes:
(name, seconds, rows | error). No oracle — DuckDB at 100× would
dominate the wall-clock without adding evidence the sf0.1 value sweep
doesn't already give.

Session artifacts (dedup/ANN indexes) are evicted between query
FAMILIES the same way the bench does, so the sweep measures fresh-ish
costs without letting the block manager grow monotonically over ~300
queries.

Usage: EXEC_SF=/tmp/sf_x100 python tools/exec_sweep.py [name-filter ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("EXEC_SF", "/tmp/sf_x100")
OUT = os.environ.get("EXEC_OUT", "/tmp/exec_sweep.jsonl")


def main() -> None:
    from ecowatt_etl_spark.queries.registry import all_queries
    from ecowatt_etl_spark.session import evict_session_artifacts, get_spark

    spark = get_spark(app_name="exec-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_queries()
    names = [n for n in specs if not sys.argv[1:] or any(a in n for a in sys.argv[1:])]

    # EXEC_RESUME=1: skip names that already have a SUCCESSFUL row in
    # OUT and append; error rows are retried. One JVM death must not
    # cost the 90-minute prefix (learned when q49c's heap-backed dedup
    # state killed the JVM 50 queries into the first full 100× run and
    # every later row recorded a spurious stopped-context error).
    done: dict[str, dict] = {}
    resume = os.environ.get("EXEC_RESUME") == "1" and os.path.exists(OUT)
    if resume:
        with open(OUT, encoding="utf-8") as f:
            for line in f:
                rec = json.loads(line)
                if "error" not in rec:
                    done[rec["q"]] = rec

    def session_dead(err: Exception) -> bool:
        s = str(err)
        return (
            "stopped SparkContext" in s
            or "Connection refused" in s
            or "Answer from Java side is empty" in s
            or "Py4JNetworkError" in type(err).__name__
        )

    def rebuild_session(old_spark):
        # a dead JVM leaves a dead cached gateway; clear it so
        # getOrCreate launches a fresh one. Session caches key on the
        # session object, so downstream artifact caches miss cleanly.
        try:
            old_spark.stop()
        except Exception:
            pass
        try:
            from pyspark import SparkContext
            from pyspark.sql import SparkSession

            if SparkContext._gateway is not None:
                try:
                    SparkContext._gateway.shutdown()
                except Exception:
                    pass
            SparkContext._active_spark_context = None
            SparkContext._gateway = None
            SparkContext._jvm = None
            SparkSession._instantiatedSession = None
            SparkSession._activeSession = None
        except Exception:
            pass
        new = get_spark(app_name="exec-sweep")
        new.sparkContext.setLogLevel("ERROR")
        return new

    n_ok = n_err = n_skip = 0
    t_all = time.monotonic()
    prev_family = None
    with open(OUT, "a" if resume else "w", encoding="utf-8") as out:
        for i, name in enumerate(names):
            if name in done:
                n_skip += 1
                continue
            family = name.split("_", 1)[0]
            if prev_family is not None and family != prev_family:
                try:
                    evict_session_artifacts(spark)
                    # eviction only drops the Python refs; the JVM
                    # ContextCleaner frees the checkpoint blocks
                    # ASYNCHRONOUSLY from weak refs, so a heavy family
                    # can leave GBs pinned when the next one starts —
                    # measured in the r9 sweep: q284 (green fresh and
                    # green in r8's ordering) heap-OOM'd 2.4k stages
                    # in, after the r9 window front-loaded the whole
                    # similarity family ahead of it. One gc + JVM gc
                    # nudge per family boundary lets the weak refs
                    # fire before the next family allocates.
                    import gc

                    gc.collect()
                    spark._jvm.System.gc()
                except Exception:  # dead JVM — recovered below
                    pass
            prev_family = family
            rec = None
            for attempt in (1, 2):
                t0 = time.monotonic()
                try:
                    rows = specs[name].fn(spark, SF).collect()
                    rec = {
                        "q": name,
                        "sec": round(time.monotonic() - t0, 2),
                        "rows": len(rows),
                    }
                    n_ok += 1
                    break
                except Exception as e:  # noqa: BLE001 — sweep must finish
                    rec = {
                        "q": name,
                        "sec": round(time.monotonic() - t0, 2),
                        "error": f"{type(e).__name__}: {str(e)[:300]}",
                    }
                    if session_dead(e) and attempt == 1:
                        # rebuild the session and retry once
                        print(f"[{i + 1}] session dead — rebuilding", flush=True)
                        spark = rebuild_session(spark)
                        continue
                    if session_dead(e):
                        # attempt 2 ALSO died with the session: record
                        # the error but rebuild before moving on, or
                        # every later query pays a failed attempt plus
                        # a gateway rebuild against a dead JVM
                        # (r8 ADVICE).
                        print(
                            f"[{i + 1}] session dead twice — rebuilding"
                            " before next query",
                            flush=True,
                        )
                        spark = rebuild_session(spark)
                    n_err += 1
                    break
            out.write(json.dumps(rec) + "\n")
            out.flush()
            print(f"[{i + 1}/{len(names)}] {rec}", flush=True)
    print(
        f"DONE ok={n_ok} err={n_err} resumed_skip={n_skip}"
        f" total_s={round(time.monotonic() - t_all, 1)}",
        flush=True,
    )


if __name__ == "__main__":
    main()
