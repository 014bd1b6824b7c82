"""Round-8 invariants: the driver-evidence ledger is COMPUTED, not
curated (r7 verdict item 3) — behavior fingerprints derive staleness
from git history + CORRECTNESS_r*.json, and the registry's driver
window must be spent on exactly what the ledger says needs evidence."""

from __future__ import annotations

import glob
import json
import os
import re
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from tools import evidence_ledger as EL  # noqa: E402


def test_fingerprint_ignores_comment_and_docstring_churn(tmp_path):
    """A comment/docstring/formatting-only edit must NOT flip the
    behavior fingerprint (else every cleanup pass would flag the whole
    registry stale); a body change MUST flip it."""
    import importlib.util

    def load(name, body):
        p = tmp_path / f"{name}.py"
        p.write_text(body)
        spec = importlib.util.spec_from_file_location(name, p)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod.q

    a = load(
        "mod_a",
        'def q(spark, sf):\n    """Docstring one."""\n    # a comment\n'
        "    return spark.range(1)\n",
    )
    b = load(
        "mod_b",
        "def q(spark, sf):\n"
        '    """Totally different docstring."""\n'
        "    # different comment, extra blank line below\n\n"
        "    return spark.range(1)\n",
    )
    c = load(
        "mod_c",
        'def q(spark, sf):\n    """Docstring one."""\n    return spark.range(2)\n',
    )
    # qualname/module differ per temp module; compare via the parts of
    # the function body only — fingerprint the same oracle both times
    fa = EL._norm_source(a)
    fb = EL._norm_source(b)
    fc = EL._norm_source(c)
    assert fa == fb
    assert fa != fc
    # and the oracle string participates: same fn, different oracle
    assert EL.behavior_fingerprint(a, "SELECT 1") != EL.behavior_fingerprint(
        a, "SELECT 2"
    )


def test_fingerprint_follows_package_closure():
    """The fingerprint must include shared package helpers a query
    reaches through globals AND through lazy in-function imports —
    the two paths the hand-maintained ledger historically missed
    (operators/dedup.py rewrites; sources/formats.py's lazy Avro
    import)."""
    from ecowatt_etl_spark.queries.registry import all_queries

    specs = all_queries()
    parts: dict[str, str] = {}
    EL._closure_parts(specs["q53_minhash_lsh_pairs"].fn, parts, set())
    keys = "\n".join(parts)
    assert "ecowatt_etl_spark.operators.dedup.lsh_bands" in keys
    # the scaled-cap expression (carries floor + ratio) is a reached const
    assert "const ecowatt_etl_spark.operators.dedup._CAP_SQL" in keys

    parts = {}
    EL._closure_parts(specs["q261_avro_roundtrip"].fn, parts, set())
    keys = "\n".join(parts)
    assert "avro_py" in keys  # reached only via formats.py's lazy import


def test_evidence_cache_is_current():
    """Every round with a CORRECTNESS_r*.json must have a fingerprint
    snapshot in tools/evidence_fingerprints.json at the CURRENT
    algorithm version — red right after a driver round lands (or the
    fingerprint algorithm changes) until someone re-runs
    `python tools/evidence_ledger.py --backfill`, which is the forcing
    function that keeps the ledger honest."""
    blob = json.load(open(os.path.join(EL._REPO, "tools",
                                       "evidence_fingerprints.json")))
    assert blob.get("_fp_version") == EL._FP_VERSION, (
        "fingerprint algorithm changed: re-run --backfill"
    )
    rounds = {
        int(re.search(r"_r(\d+)\.json$", p).group(1)): p
        for p in glob.glob(os.path.join(EL._REPO, "CORRECTNESS_r*.json"))
    }
    missing = {r for r in rounds if str(r) not in blob["rounds"]}
    if missing:
        # a CORRECTNESS file the driver just dropped into the working
        # tree (not yet in git HEAD) cannot have a fingerprint snapshot
        # yet — its evidence commit doesn't exist. Only COMMITTED
        # rounds without snapshots are a failure.
        import subprocess

        tracked = set(
            subprocess.run(
                ["git", "ls-files", "--", "CORRECTNESS_r*.json"],
                cwd=EL._REPO,
                capture_output=True,
                text=True,
            ).stdout.split()
        )
        missing = {
            r for r in missing
            if os.path.basename(rounds[r]) in tracked
        }
    assert not missing, (
        f"rounds {sorted(missing)} lack fingerprint snapshots: "
        "re-run `python tools/evidence_ledger.py --backfill`"
    )


@pytest.fixture(scope="module")
def led_and_head():
    head = EL.head_fingerprints()
    return EL.ledger(head), head


def test_driver_window_is_computed_from_the_ledger(led_and_head):
    """THE r8 tripwire: the first ~50 entries of queries() (the
    driver's value-check window) must be spent on exactly what the
    ledger derives — never-rowed first, then only stale entries while
    stale entries remain unserved. A rewrite that ships without
    re-prioritizing the window flips its fingerprint, lands in the
    stale set, and turns this red; so does hand-curating a
    current-evidence query into the window while stale ones wait."""
    from ecowatt_etl_spark.queries.registry import all_queries

    led, _ = led_and_head
    specs = all_queries()
    window = list(specs)[:50]

    never = {n for n, r in led.items() if r["latest_round"] is None}
    stale = {
        n for n, r in led.items()
        if r["latest_round"] is not None and r["stale"] is not False
    }
    # never-rowed lead (the r4-era tripwire, now ledger-derived)
    lead = sorted(never)[: len(window)]
    assert set(window[: len(lead)]) == set(lead)

    need = never | stale
    rest = window[len(lead):]
    if len(need) >= len(window):
        offenders = [n for n in rest if n not in stale]
        assert not offenders, (
            "window slots spent on current-evidence queries while "
            f"{len(need - set(window))} stale queries wait: {offenders}"
        )
    else:
        assert need <= set(window), sorted(need - set(window))


def test_q266_numpy_arm_matches_truth_arm(spark):
    """The BLAS Gram throughput arm must agree with the fixed-point
    truth arm: identical (i, j) key set, identical n, and covariance
    within quantization (±1e-6/value) + fold-order noise. This is the
    q63/q91 two-arm discipline applied to the covariance reduce."""
    from ecowatt_etl_spark.queries.similarity_queries import (
        covariance_arms_max_abs_diff,
        embedding_covariance_numpy,
    )

    sf = "/root/testdata/sf0.01"
    fast = embedding_covariance_numpy(spark, sf)
    rows = fast.collect()
    d = max(r["j"] for r in rows) + 1
    assert len(rows) == d * (d + 1) // 2  # full upper triangle
    assert len({r["n"] for r in rows}) == 1  # every pair saw every vector
    assert covariance_arms_max_abs_diff(spark, sf) < 1e-5


def test_recommended_window_orders_same_round_rewrites_first(led_and_head):
    """Within the stale set, queries rewritten THIS round (fingerprint
    differs from the latest cached round) come before older drift —
    the same-round certification contract every round has honored."""
    led, head = led_and_head
    order = EL.recommended_window(head)
    hist = EL.historical_fingerprints()
    last = str(max(int(r) for r in hist))
    at_last = hist[last]

    stale_pos = [
        n for n in order
        if led[n]["latest_round"] is not None and led[n]["stale"] is not False
    ]
    seen_old_drift = False
    for n in stale_pos:
        changed_now = at_last.get(n) != head.get(n)
        if not changed_now:
            seen_old_drift = True
        assert not (changed_now and seen_old_drift), (
            f"{n} was rewritten this round but is ordered after "
            "older drift in the recommended window"
        )


def test_bucketed_row_number_matches_partition_window(spark):
    """operators/scan_ops.bucketed_row_number (two-phase distributed
    ranking — q279/q280's scale path) must be bit-identical to the
    single-task-per-key ``ROW_NUMBER() OVER (PARTITION BY k ORDER BY
    v, id)`` it replaces: ties on the leading order column broken by
    the trailing one, keys straddling bucket boundaries, single-row
    keys, and any bucket width (the bucket is v DIV w — monotone in
    the leading order column, the operator's contract)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from ecowatt_etl_spark.operators.scan_ops import bucketed_row_number

    rows = [
        (f"s{i % 5}", i * 7 % 23, i)  # heavy ties on v within each key
        for i in range(300)
    ] + [("lonely", 4, 999)]
    df = spark.createDataFrame(rows, "k string, v long, id long")
    for width in (1, 8, 64, 10_000):
        got = {
            (r["k"], r["id"]): r["rn"]
            for r in bucketed_row_number(
                df,
                bucket_col=F.expr(f"v DIV {width}"),
                order_cols=[F.col("v"), F.col("id")],
                out_col="rn",
                partition_cols=["k"],
            ).collect()
        }
        w = W.partitionBy("k").orderBy("v", "id")
        want = {
            (r["k"], r["id"]): r["rn"]
            for r in df.withColumn("rn", F.row_number().over(w)).collect()
        }
        assert got == want, f"width={width}"
    assert got[("lonely", 999)] == 1


def test_q283_shortcut_matches_q57_and_beats_its_round_bound(spark):
    """The pointer-jumping CC kernel (q283) reaches q57's exact
    fixpoint, and on a long-chain graph — the adversarial shape for
    min-label propagation — converges where q57's diameter-bounded
    loop correctly refuses: a 300-link chain is > _LP_MAX_ROUNDS
    diameter but only ~log2(300) shortcut rounds."""
    from ecowatt_etl_spark.queries import dedup_queries as dq

    # corpus identity: both kernels on the real gate-scale pair graph
    sf = "/root/testdata/sf0.01"
    a = {
        (r["doc_id"], r["cluster_id"])
        for r in dq.q57_dedup_clusters(spark, sf).collect()
    }
    b = {
        (r["doc_id"], r["cluster_id"])
        for r in dq.q283_shortcut_clusters(spark, sf).collect()
    }
    assert a == b and a

    # synthetic 300-link chain injected through the pair-table cache
    # (both kernels read ONLY neardup_pairs — no table access)
    chain = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(300)],
        "id_a long, id_b long, jaccard_sim double",
    )
    key = "synthetic-chain-300"
    dq._PAIRS_CACHE.get((spark, key), lambda: chain)
    try:
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in dq.q283_shortcut_clusters(spark, key).collect()
        }
        assert got == {i: 0 for i in range(301)}
        import pytest as _pytest

        with _pytest.raises(RuntimeError, match="did not converge"):
            dq.q57_dedup_clusters(spark, key)
    finally:
        del dq._PAIRS_CACHE[(spark, key)]
