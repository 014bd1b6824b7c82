"""Query paths leave the shared session alone, and reuse what it built.

Under concurrent serving, every request plans against one session: a
query that writes session-global SQL conf changes what another request
plans with, and a cache keyed on ``id(spark)`` can hand a new session a
stopped one's artifact. The runtime test catches a conf write while a
query runs; the source guards keep both patterns out of the package.
The codegen test checks that a warm request reuses the classes an
earlier one compiled instead of compiling them again, the broadcast
test that Spark's broadcast pieces stay out of G1's humongous regions,
and the last test that a session started outside the repository root
still runs queries whose Python workers import the package.
"""

from __future__ import annotations

import ast
import os
import pathlib
import subprocess
import sys
import threading

from tests.conftest import SF_ORACLE as SF
from tests.conftest import SF_SMOKE

PKG = pathlib.Path(__file__).resolve().parent.parent / "ecowatt_etl_spark"

# The relational part of the analyst_serving deck
# (perfbench/workloads.py:SERVING_QUERIES without the ANN/BM25 four).
_SERVING_RELATIONAL = [
    "q01_pricing_summary", "q05_multiagg_conditional", "q09_distinct_count",
    "q12_star_join", "q13_semi_join", "q17_top10_revenue", "q22_window_yoy",
    "q23_topk_per_group", "q106_nation_year_profit", "q107_custdist",
    "q115_volume_shipping", "q124_forecast_revenue", "q125_returned_customers",
    "q40_tumbling_window", "q42_session_window", "q46_asof_join",
    "q48_range_lookback", "q49f_funnel", "q164_ohlc_bars",
]

# The streaming replays' RocksDB provider choice (q277, q49c) and their
# shuffle-partition count (the two stream runners) are still set and
# restored per run. ROADMAP direction 4 is to remove these four sites.
_CONF_SET_ALLOWED = {
    ("queries/event_queries.py", "q277_stream_totals_tws"),
    ("queries/event_queries.py", "q49c_stream_dedup"),
    ("streaming/events_stream.py", "run_to_completion"),
    ("streaming/events_stream.py", "stream_rollup_to_parquet"),
}


def test_q57_never_changes_the_sessions_shuffle_partitions(spark):
    from ecowatt_etl_spark.queries.dedup_queries import q57_dedup_clusters

    key = "spark.sql.shuffle.partitions"
    own = spark.conf.get(key)
    seen: set[str] = set()
    done = threading.Event()

    def poll() -> None:
        while not done.is_set():
            seen.add(spark.conf.get(key))

    poller = threading.Thread(target=poll)
    poller.start()
    try:
        assert q57_dedup_clusters(spark, SF).count() > 0
    finally:
        done.set()
        poller.join(timeout=30)
    assert seen == {own}, f"a concurrent reader saw {key} = {sorted(seen)}"


def test_a_warm_serving_deck_reuses_its_generated_classes(spark):
    """Spark's generated-class cache holds 100 classes by default, and
    these 19 queries use more than that, so at 100 entries each pass
    evicts every class before its next use: the second pass compiled
    about 216 classes. With the cache sized in ``get_spark`` it
    compiles 0-4; the occasional 4 came from q09_distinct_count's
    distinct aggregate, once in four repeat passes. The first pass is
    not counted: earlier tests in the session may have compiled these
    classes already."""
    from ecowatt_etl_spark.queries.registry import all_queries

    qs = all_queries()
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def deck() -> None:
        for name in _SERVING_RELATIONAL:
            qs[name].fn(spark, SF_SMOKE).collect()

    deck()
    before = compiles.getCount()
    deck()
    assert compiles.getCount() - before <= 10


def test_broadcast_pieces_are_under_half_a_g1_region(spark):
    """G1 allocates an object of half a region or more as humongous, in
    the old generation. Every broadcast allocates its first piece of
    ``spark.broadcast.blockSize`` bytes plus a 16-byte array header in
    full; at Spark's 4 MiB default that piece went humongous on every
    heap this engine runs with (2 MB regions at perfbench's 3g, 4 MB at
    this session's heap), which set the serving process's peak RSS."""
    jvm = spark._jvm
    block = spark.sparkContext._jsc.sc().conf().getSizeAsKb("spark.broadcast.blockSize", "4m")
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    region = int(bean.getVMOption("G1HeapRegionSize").getValue())
    assert block * 1024 + 16 < region // 2, (block, region)


def test_package_has_no_cache_keyed_on_the_id_of_a_session():
    offenders = [
        str(p.relative_to(PKG)) for p in sorted(PKG.rglob("*.py"))
        if "id(spark)" in p.read_text()
    ]
    assert not offenders


def _conf_set_sites(sub: str) -> set[tuple[str, str]]:
    """(file, top-level function) of every ``<x>.conf.set(...)`` call."""
    sites = set()
    for p in sorted((PKG / sub).glob("*.py")):
        for top in ast.parse(p.read_text()).body:
            name = getattr(top, "name", "<module>")
            for node in ast.walk(top):
                f = getattr(node, "func", None)
                if (
                    isinstance(node, ast.Call)
                    and isinstance(f, ast.Attribute)
                    and f.attr == "set"
                    and isinstance(f.value, ast.Attribute)
                    and f.value.attr == "conf"
                ):
                    sites.add((f"{sub}/{p.name}", name))
    return sites


def test_query_paths_write_session_conf_only_at_the_allowlist():
    sites = _conf_set_sites("queries") | _conf_set_sites("operators") | _conf_set_sites("streaming")
    assert sites == _CONF_SET_ALLOWED


def test_python_workers_import_the_package_outside_the_repo_root(tmp_path):
    """q193 reads a Python data source defined in the package, so its
    workers import ``ecowatt_etl_spark``; a driver that found the package
    through ``sys.path`` alone, started in another directory, must still
    get rows."""
    script = (
        "import sys\n"
        f"sys.path.insert(0, {str(PKG.parent)!r})\n"
        "from ecowatt_etl_spark.session import get_spark\n"
        "from ecowatt_etl_spark.queries.relational import q193_python_datasource\n"
        "spark = get_spark(master='local[2]', shuffle_partitions=2)\n"
        f"print('ROWS', len(q193_python_datasource(spark, {SF_SMOKE!r}).collect()))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    run = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert run.returncode == 0, run.stderr[-2000:]
    rows = [ln for ln in run.stdout.splitlines() if ln.startswith("ROWS ")]
    assert rows and int(rows[-1].split()[1]) > 0, run.stdout[-2000:]
