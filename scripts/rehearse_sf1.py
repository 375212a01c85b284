"""sf1.0 scale rehearsal for the heavy dedup/ANN ladders (VERDICT r4 #2).

No sf1 fixture ships, so this builds a 10x tiling of sf0.1 under /tmp:

- ``documents``: 10 replicas; replica k suffixes every token with
  ``_r{k}`` (k>0), a per-replica bijective vocabulary rename.  Within-
  replica Jaccard/shingle structure is EXACTLY sf0.1's; cross-replica
  token sets are disjoint, so the true near-dup pair set is exactly
  10x sf0.1's.  Any super-linear growth in candidates, shuffles, or
  wall time is therefore the algorithm's, not the data's.
- ``embeddings``: 10 replicas; replica k rolls vector components by k
  and flips the sign of every second component on odd k — orthogonal
  transforms, so within-replica cosine structure is exactly sf0.1's.

Run: ``python scripts/rehearse_sf1.py`` (~15-25 min, dominated by the
exact prefix-filter join at sf1).  Prints one JSON line per
(query, scale) with wall seconds, output rows, and shuffle bytes
(delta of total shuffle-write across stages, from the local REST API),
then a summary with the sf0.1 -> sf1 scaling exponent
``log10(t_sf1 / t_sf01)`` (1.0 = linear).

Skew mode (round 7, VERDICT r6 #1): ``REHEARSE_SKEW=0.3`` builds a
SECOND tiling where 30% of events hit one user_id, 30% of orders hit
one o_custkey, and ``REHEARSE_SKEW_CLIQUE`` (default 1%) of documents
share one boilerplate text — then measures each query on the uniform
vs the skewed tiling at the same scale, records per-stage straggler
ratios (p100/p50 task time) and whether AQE's skew-join split engaged,
and A/Bs the explicit salted join against plain sort-merge on the hot
orders⋈customer join.  AQE skew thresholds are scaled down so the
mechanism is exercisable at rehearsal volume (see main()).
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from pyspark.sql import functions as F

from awsbatch_mapreduce_spark.plans import QUERIES
from awsbatch_mapreduce_spark.session import get_spark

SF01 = "/root/testdata/sf0.1"
# Tiling factor: 10 -> ~sf1, 100 -> ~sf10 (REHEARSE_REPLICAS env).
# Three measured points (sf0.1 native, 10x, 100x) turn the pairwise
# ratios into a two-decade scaling curve.
REPLICAS = int(os.environ.get("REHEARSE_REPLICAS", "10"))
# ADVICE r6: REPLICAS=1 would make decades=log10(1)=0 and divide the
# exponent summary by zero; 0/negative would build an empty tiling.
assert REPLICAS >= 2, "REHEARSE_REPLICAS must be >= 2 (one real decade step)"
# Version of the tiling transforms (vocab rename + embedding roll/flip;
# v3 adds key-offset tiling of the relational/events facts + verbatim
# dim copies).  Encoded with REPLICAS into the tiled path so changing
# either rebuilds instead of silently reusing stale data (ADVICE r5): a
# stale tile would invalidate every scaling exponent this script exists
# to measure.
TILE_VERSION = "v3"
# Skew mode (VERDICT r6 #1): REHEARSE_SKEW=0.3 routes that fraction of
# events (one hot user_id=0) and orders (one hot o_custkey=1) onto a
# single key ACROSS all replicas, and REHEARSE_SKEW_CLIQUE (default
# 0.01 when skew is on) replaces that fraction of every replica's docs
# with one shared boilerplate text — a corpus-wide near-dup mega-clique.
# The uniform tiling's disjoint-replica linearity invariant deliberately
# does NOT hold here; skew mode measures task-time skew ratios, whether
# AQE's skew-join split engages, and the salted-join A/B instead of
# scaling exponents.
SKEW = float(os.environ.get("REHEARSE_SKEW", "0"))
CLIQUE = float(
    os.environ.get("REHEARSE_SKEW_CLIQUE", "0.01" if SKEW > 0 else "0")
)
assert 0 <= SKEW < 1 and 0 <= CLIQUE < 1
_TAG_UNIFORM = f"r{REPLICAS}_{TILE_VERSION}"
_TILE_TAG = (
    f"{_TAG_UNIFORM}_skew{SKEW:g}_{CLIQUE:g}" if SKEW > 0 else _TAG_UNIFORM
)
_TILE_PREFIX = "awsbatch_sf1_tiled"
_TMP = os.environ.get("TMPDIR", "/tmp")
TILED = os.path.join(_TMP, f"{_TILE_PREFIX}_{_TILE_TAG}")
# skew mode compares skewed vs uniform tiling at the SAME scale, so it
# needs both generations on disk
TILED_UNIFORM = os.path.join(_TMP, f"{_TILE_PREFIX}_{_TAG_UNIFORM}")

REHEARSAL = [
    "dedup_minhash_lsh",
    "dedup_prefix_filter",
    "containment_near_dup",
    "minhash_lsh_eval",
    "ann_ivf_topk",
    "ann_pq_adc_topk",
    "corpus_curation_funnel",
    # wave-7 observability/QA queries (round 6): the band-load probes
    # must stay cheap relative to the dedup they instrument, the exact
    # pair consumers inherit the inverted-index plan, and the
    # calibration query adds two signature lookups on the candidate set
    "lsh_band_load_histogram",
    "df_cap_candidate_curve",
    "near_dup_source_matrix",
    "minhash_calibration",
    # the df-cap escape valve: bounded cost where the exact prefix
    # filter is output-bound (its whole reason to exist)
    "dedup_prefix_filter_capped",
    # relational + events families (round 6, tiling v3): facts tiled by
    # key offset with IDENTICAL per-replica structure (dims copied
    # verbatim — at 100 TB facts grow, dims don't), so q1's sums scale
    # exactly 10x, per-customer/per-user work partitions by disjoint
    # keys, and the top-k outputs stay k rows
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q10_returned_revenue",
    "window_top_orders_per_customer",
    "events_sessionization",
    "events_top_sessions",
    "range_join_error_context",
    # round 7 (VERDICT r6 #3): the one headline query whose hot path
    # crosses the JVM<->Python boundary — measures Arrow-stage
    # throughput scaling + Python-worker peak RSS (sampled from /proc)
    "multimodal_decode_features",
    # round 8 (wave 9): the semantic-dedup rung (cell-shard-bounded
    # pair volume) and the persisted band-index write->append->probe
    # cycle; measured 10x/100x in REHEARSAL_r8.jsonl
    "semdedup_cluster_prune",
    "lsh_band_index_lifecycle",
    # round 9 (wave 10): the cell-sampled eps curve (inherits the
    # prune's shard cap -> 10x/100x) and the persisted-codebook
    # novelty probe (10x only: exact intra-cell membership check is
    # |batch| x cell-size by SEMANTICS — recall-lossless sharding does
    # not exist — and k is pinned by the shared-oracle contract, so
    # cells grow with the corpus here; production grows k instead.
    # SCALING.md round 9 quantifies the 100x cost this trades away.)
    "semdedup_eps_curve_sampled",
    "semdedup_codebook_novelty",
    # round 11 (wave 11): the capacity-bounded codebook — unlike its
    # fixed-k twin it STAYS in the ladder at 100x: the hard per-cell
    # cap bounds the membership term and the growing fine-assign term
    # is cell_size/cap (capx smaller), which is the whole claim the
    # ladder exists to measure (VERDICT r10 #1)
    "semdedup_codebook_capacity",
    # round 11 (wave 11): the adaptive variant — coarse k0 =
    # ceil(sqrt(ceil(n/cap))) recomputed at fit time, so BOTH growing
    # probe terms (coarse distances, fine-assign fan) are
    # sqrt(n/cap)-bounded; the ladder should read a lower second-decade
    # exponent than the label-coarse capacity twin's fixed-k0 residual
    "semdedup_codebook_adaptive",
    # round 13 (wave 12): the daily-append lifecycle on the adaptive
    # layout — its scale shape is the adaptive probe's plus an
    # O(|batch|) admission term (batch-sized rank window, bucketed
    # appends), so the ladder exponent should track the adaptive
    # variant's
    "semdedup_codebook_adaptive_append",
    # round 14 (wave 13): the refit lifecycle — two adaptive fits
    # (build over n/2, refit over 3n/4) + three admissions + probe, so
    # the ladder exponent should track the adaptive variant's (the fit
    # is the dominant term and is the same O(n * sqrt(n/cap)) shape);
    # the absolute number is the price of resetting the append path's
    # refit-starved growth (SCALING.md round-14 sizing rule)
    "semdedup_codebook_refit",
    # round 14 (wave 13): nprobe=2 on the adaptive layout — same fit,
    # probe constant 2x (second coarse argmin + second fine argmin +
    # <= cap extra membership cosines); the ladder exponent should
    # track the adaptive variant's and the absolute delta prices the
    # boundary-recall gain (measured 0.35 -> 0.54 vec-recall at
    # sf0.001)
    "semdedup_codebook_multiprobe",
    # round 15 (wave 14): the operational pointer path — its exponent
    # should land ON semdedup_codebook_refit's (same two-fit
    # lifecycle; cutover/vacuum are metadata ops), which is the claim
    # (measured: 288.4 vs 282.4 s at 100x, REHEARSAL_r15.jsonl)
    "codebook_pointer_lifecycle",
    # round 15 (wave 14): the recall/cost sweep's cheapest and most
    # expensive cap rungs — one fit at the cap + 3 probes of a FIXED
    # 256-panel + a corpus-linear truth pass; sublinear per decade
    # (0.41-0.53 measured), so the recall surface is re-measurable at
    # every refit
    "codebook_recall_sweep_cap16",
    "codebook_recall_sweep_cap512",
    # round 15 (wave 14): the IVFPQ re-rank probe — the membership
    # join reads 8 one-int codes per member instead of the 64-int
    # vector (the members-bandwidth term at 100 TB); exponent should
    # track _adaptive's with the codes build as a constant
    "codebook_pq_rerank_probe",
    # round 16 (wave 15): the pointer lifecycle with the PQ path
    # folded in — two fits + two codes builds + admit-with-codes +
    # ADC probe via pointer; exponent should land between
    # codebook_pointer_lifecycle's (same two-fit skeleton) and the PQ
    # probe's, with the codes builds as the per-generation constant
    "codebook_pointer_lifecycle_adc",
]

# Resume/partition support: REHEARSE_ONLY="a,b" runs a subset (any
# registry query, not just the default list), so an interrupted run
# (the heavy exact-dedup queries dominate wall time) can be completed
# without re-measuring what already finished, and one-off modes (skew)
# can target exactly the queries under study.
_only = os.environ.get("REHEARSE_ONLY")
if _only:
    REHEARSAL = [n for n in _only.split(",") if n]
elif REPLICAS >= 100:
    # "10x only" must be a code gate, not a comment (round-9 review):
    # the codebook probe's membership check is |batch| x cell-size by
    # semantics, and with k pinned by the shared-oracle contract a
    # 100x ladder would run ~1e10 dot products that measure the
    # fixture's fixed k, not the operator.  Name it in REHEARSE_ONLY
    # to force it deliberately.
    REHEARSAL = [n for n in REHEARSAL if n != "semdedup_codebook_novelty"]


def _sweep_stale_tiles() -> None:
    """Remove tiled generations with a different tag (old REPLICAS /
    transform version, or the pre-tag ``awsbatch_sf1_tiled`` dir), so
    rerunning the rehearsal leaves exactly one ~10x generation on disk
    (VERDICT r5 #5 — same hygiene as the zorder scratch sweep)."""
    import shutil

    root = os.environ.get("TMPDIR", "/tmp")
    keep = {os.path.basename(TILED), os.path.basename(TILED_UNIFORM)}
    try:
        for entry in os.listdir(root):
            if entry.startswith(_TILE_PREFIX) and entry not in keep:
                shutil.rmtree(os.path.join(root, entry), ignore_errors=True)
    except OSError:
        pass


def _assert_keys_below(df, keys: list[str], offset: int) -> None:
    """Tiling-safety guard (ADVICE r6): every offset key column must fit
    strictly below the replica offset or replica key spaces overlap."""
    row = df.agg(*[F.max(k).alias(k) for k in keys]).first()
    for k in keys:
        assert row[k] is None or row[k] < offset, (
            f"tiling offset too small: max({k})={row[k]} >= {offset}"
        )


_BOILER = " ".join(f"boiler{i}" for i in range(60))


def build_tiled(spark, dest: str | None = None, skew: float | None = None,
                clique: float | None = None) -> bool:
    """Build one tiled generation at ``dest`` (default: TILED).  With
    ``skew``/``clique`` > 0 the hot-key transforms apply (module
    docstring); the uniform build is the skew=0 special case.

    Returns True iff this call actually BUILT the tiling (vs found it
    on disk).  Round-13 finding (SCALING.md): a 100x point measured in
    the same session that built the tiling read 4.4-5.7x inflated on
    identical plans — post-build page-cache/GC state is a measurement
    artifact, so rows measured in a build session are tagged
    ``built_in_session`` and the honest protocol is build, exit,
    re-run to measure (the ``_SUCCESS_TILED`` marker makes the second
    invocation's build a no-op).  ``REHEARSE_BUILD_ONLY=1`` does the
    first half explicitly."""
    dest = TILED if dest is None else dest
    skew = SKEW if skew is None else skew
    clique = CLIQUE if clique is None else clique
    _sweep_stale_tiles()
    if os.path.exists(os.path.join(dest, "_SUCCESS_TILED")):
        return False
    docs = spark.read.parquet(f"{SF01}/documents.parquet")
    # ADVICE r6: the k*offset tiling silently produces OVERLAPPING key
    # spaces (breaking the disjoint-replica invariant every exponent
    # relies on) if a base fixture ever carries keys >= the offset —
    # check once per build, cheap next to the write it guards.
    _assert_keys_below(docs, ["doc_id"], 10_000_000)
    parts = []
    for k in range(REPLICAS):
        d = docs.withColumn(
            "doc_id", F.col("doc_id") + F.lit(k * 10_000_000)
        )
        if k > 0:
            # bijective per-replica vocabulary rename: suffix every
            # whitespace token (split/transform/join stays JVM-side)
            d = d.withColumn(
                "text",
                F.array_join(
                    F.transform(
                        F.split("text", " "),
                        lambda w: F.concat(w, F.lit(f"_r{k}")),
                    ),
                    " ",
                ),
            )
        if clique > 0:
            # skew mode: a deterministic slice of EVERY replica's docs
            # shares one boilerplate text (no per-replica rename) — a
            # corpus-wide near-dup mega-clique, the hot-key shape of
            # template spam at 100 TB
            d = d.withColumn(
                "text",
                F.when(
                    F.pmod("doc_id", 1000) < int(clique * 1000),
                    F.lit(_BOILER),
                ).otherwise(F.col("text")),
            )
        parts.append(d)
    tiled_docs = parts[0]
    for p in parts[1:]:
        tiled_docs = tiled_docs.unionAll(p)
    tiled_docs.repartition(32).write.mode("overwrite").parquet(
        f"{dest}/documents.parquet"
    )

    emb = spark.read.parquet(f"{SF01}/embeddings.parquet")
    _assert_keys_below(emb, ["vec_id"], 10_000_000)
    dim = len(emb.select("embedding").first()[0])
    parts = []
    for k in range(REPLICAS):
        e = emb.withColumn(
            "vec_id", F.col("vec_id") + F.lit(k * 10_000_000)
        )
        if k > 0:
            roll = k % dim
            e = e.withColumn(
                "embedding",
                F.transform(
                    F.concat(
                        F.slice("embedding", roll + 1, dim - roll),
                        F.slice("embedding", 1, roll),
                    ),
                    lambda v, i: F.when(
                        F.lit(k % 2 == 1) & (i % 2 == 1), -v
                    ).otherwise(v),
                ),
            )
        if clique > 0:
            # round 8: the embedding twin of the boilerplate doc clique
            # — a deterministic slice of EVERY replica's vectors becomes
            # ONE constant vector (cosine 1.0 with each other), so
            # k-means funnels the whole clique into a single cell: the
            # hot-cell shape SemDeDup's 512-member cell shards exist to
            # bound (template/near-empty embeddings at 100 TB)
            e = e.withColumn(
                "embedding",
                F.when(
                    F.pmod("vec_id", 1000) < int(clique * 1000),
                    F.array(*[F.lit(0.1)] * dim).cast("array<float>"),
                ).otherwise(F.col("embedding")),
            )
        parts.append(e)
    tiled_emb = parts[0]
    for p in parts[1:]:
        tiled_emb = tiled_emb.unionAll(p)
    tiled_emb.repartition(8).write.mode("overwrite").parquet(
        f"{dest}/embeddings.parquet"
    )

    # Relational + events facts (tiling v3): offset every key column by
    # k*10^8 so replica key spaces are disjoint — per-customer windows,
    # per-user sessions, and order->lineitem joins keep EXACTLY sf0.1's
    # within-replica structure, so output structure scales linearly by
    # construction.  Timestamps/amounts are untouched (time-keyed aggs
    # legitimately grow counts, not groups).  Dims are copied verbatim:
    # the 100 TB shape is growing facts against fixed dims.
    from awsbatch_mapreduce_spark.sources.tables import load_table

    _OFF = 100_000_000
    fact_keys = {
        "customer": ["c_custkey"],
        "orders": ["o_orderkey", "o_custkey"],
        "lineitem": ["l_orderkey"],
        "events": ["event_id", "user_id"],
    }
    for table, keys in fact_keys.items():
        base = load_table(spark, SF01, table)
        _assert_keys_below(base, keys, _OFF)
        parts = []
        for k in range(REPLICAS):
            d = base
            for col in keys:
                d = d.withColumn(col, F.col(col) + F.lit(k * _OFF))
            if skew > 0 and table == "events":
                # hot user: one user_id absorbs `skew` of ALL replicas'
                # events (sessionization / per-user window hot key)
                d = d.withColumn(
                    "user_id",
                    F.when(
                        F.pmod("event_id", 1000) < int(skew * 1000), F.lit(0)
                    ).otherwise(F.col("user_id")),
                )
            if skew > 0 and table == "orders":
                # hot customer: one o_custkey holds `skew` of all orders
                d = d.withColumn(
                    "o_custkey",
                    F.when(
                        F.pmod("o_orderkey", 1000) < int(skew * 1000), F.lit(1)
                    ).otherwise(F.col("o_custkey")),
                )
            parts.append(d)
        tiled = parts[0]
        for p in parts[1:]:
            tiled = tiled.unionAll(p)
        tiled.repartition(32).write.mode("overwrite").parquet(
            f"{dest}/{table}.parquet"
        )
    for dim in ("region", "nation", "supplier", "part"):
        load_table(spark, SF01, dim).write.mode("overwrite").parquet(
            f"{dest}/{dim}.parquet"
        )
    with open(os.path.join(dest, "_SUCCESS_TILED"), "w") as f:
        f.write("ok")
    return True


def _rest(spark, path: str):
    ui = spark.sparkContext.uiWebUrl
    if not ui:
        return None
    try:
        with urllib.request.urlopen(f"{ui}/api/v1/applications") as r:
            app_id = json.load(r)[0]["id"]
        with urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}{path}") as r:
            return json.load(r)
    except Exception:
        return None


def shuffle_write_bytes(spark) -> int:
    """Total shuffle-write bytes across all completed stages (REST)."""
    stages = _rest(spark, "/stages?status=complete")
    if stages is None:
        return -1
    return sum(s.get("shuffleWriteBytes", 0) for s in stages)


def completed_stage_ids(spark) -> set[int]:
    stages = _rest(spark, "/stages?status=complete") or []
    return {s["stageId"] for s in stages}


def task_skew_ratio(spark, new_stage_ids: set[int]) -> dict | None:
    """Max p100/p50 task executorRunTime over the 3 heaviest NEW stages
    — the per-stage straggler factor a hot key produces.  1.0 = every
    task took the same time; a 0.3-hot-key groupBy shows ~0.3*n_tasks
    here if nothing mitigates it."""
    stages = _rest(spark, "/stages?status=complete") or []
    mine = [s for s in stages if s["stageId"] in new_stage_ids]
    mine.sort(key=lambda s: s.get("executorRunTime", 0), reverse=True)
    worst = None
    for s in mine[:3]:
        summ = _rest(
            spark,
            f"/stages/{s['stageId']}/{s.get('attemptId', 0)}/taskSummary"
            "?quantiles=0.5,1.0",
        )
        if not summ or "executorRunTime" not in summ:
            continue
        p50, p100 = summ["executorRunTime"]
        if p50 <= 0:
            continue
        ratio = round(p100 / p50, 1)
        rec = {
            "stage": s["stageId"],
            "n_tasks": s.get("numCompleteTasks"),
            "p50_ms": round(p50),
            "p100_ms": round(p100),
            "ratio": ratio,
        }
        if worst is None or ratio > worst["ratio"]:
            worst = rec
    return worst


class _PyWorkerRss:
    """Samples the summed RSS of all pyspark worker/daemon processes
    every 200 ms on a daemon thread; ``peak_mb`` after stop() is the
    peak Python-side memory of an Arrow stage — the number that decides
    whether a mapInPandas batch size fits executor memory at scale."""

    def __init__(self) -> None:
        import threading

        self.peak_kb = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> int:
        import glob as g

        total = 0
        for cmdline in g.glob("/proc/[0-9]*/cmdline"):
            try:
                with open(cmdline, "rb") as f:
                    cmd = f.read()
                if b"pyspark.daemon" not in cmd and b"pyspark.worker" not in cmd:
                    continue
                pid_dir = os.path.dirname(cmdline)
                with open(os.path.join(pid_dir, "status")) as f:
                    for line in f:
                        if line.startswith("VmRSS:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                continue
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._sample())
            self._stop.wait(0.2)

    def __enter__(self) -> "_PyWorkerRss":
        self._t.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._t.join(timeout=2)

    @property
    def peak_mb(self) -> int | None:
        return round(self.peak_kb / 1024) if self.peak_kb else None


def _run_for_final_plan(df) -> tuple[int, str]:
    """Execute the frame's OWN physical plan (not a derived count()
    plan) and return (row count, final post-AQE plan string).  This is
    the ONLY honest measurement action, for two reasons: (a) a
    `skew=true` AQEShuffleRead marker is observable only on the frame's
    own QueryExecution — ``df.count()`` builds a separate one; and (b)
    ``df.count()`` lets Catalyst PRUNE the measured work — a final
    left join whose right side is unique on the key is eliminated
    outright, and any column-only pipeline feeding pruned columns goes
    with it (measured round 7: pagerank_event_graph under count() ran
    0 MB shuffle / 1.7 s where its real plan runs 2.0 MB / 3.0 s, and
    incremental_lsh_novelty's whole LSH probe was optimized away).
    Executing the frame's own plan evaluates every output column."""
    jplan = df._jdf.queryExecution().executedPlan()
    n = int(jplan.execute().count())
    return n, jplan.toString()


def _salted_ab(spark) -> None:
    """A/B the explicit salted join against the plain sort-merge join on
    the skewed tiling's hot-customer orders⋈customer join, with AQE's
    skew split off and on — three measured points that say which
    mitigation actually pays at this skew (VERDICT r6 #1).  Result-set
    identity between variants is asserted (same row count)."""
    from awsbatch_mapreduce_spark.operators.skew import salted_join

    orders = spark.read.parquet(f"{TILED}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = (
        spark.read.parquet(f"{TILED}/customer.parquet")
        .select(F.col("c_custkey").alias("o_custkey"), "c_nationkey")
    )

    def _plain():
        return orders.hint("merge").join(cust.hint("merge"), "o_custkey")

    def _salted():
        # merge-hint both sides so the A/B compares shuffle regimes —
        # a broadcast of the replicated build would dodge the skew
        # question entirely (and at real dim sizes would be the answer)
        return salted_join(orders.hint("merge"), cust.hint("merge"), "o_custkey")

    counts = []
    for label, build, skew_split in (
        ("smj_no_aqe_skew_split", _plain, "false"),
        ("smj_aqe_skew_split", _plain, "true"),
        ("salted_join", _salted, "true"),
    ):
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", skew_split)
        pre = completed_stage_ids(spark)
        t0 = time.perf_counter()
        n, final = _run_for_final_plan(build())
        dt = round(time.perf_counter() - t0, 2)
        counts.append(n)
        rec = {
            "ab": label,
            "sec": dt,
            "rows": n,
            "task_skew": task_skew_ratio(spark, completed_stage_ids(spark) - pre),
            "aqe_skew_split": "skew=true" in final,
        }
        print(json.dumps(rec), flush=True)
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    assert len(set(counts)) == 1, f"salted join changed the result: {counts}"


def _valve_scale_point(spark, cap: int) -> None:
    """Non-degenerate scale evidence for the df-cap valve (VERDICT r6
    #6): at the default cap=64 the fixture's wide cliques blow the cap
    and the valve honestly emits 0 pairs at sf0.1+ — weak evidence of
    its POSITIVE path.  With a raised cap (default 512) the clique
    tokens survive and the valve emits a real pair set; measure it at
    the base and tiled scales, and at sf0.1 assert the capped pairs are
    a subset of the exact operator's output (the accuracy side of the
    valve's cost/accuracy trade, checked where exact is affordable)."""
    from awsbatch_mapreduce_spark.plans.wave5 import _prefix_filter_plan

    for label, sf_dir in (("sf0.1", SF01), (f"sf{REPLICAS / 10:g}", TILED)):
        t0 = time.perf_counter()
        capped = _prefix_filter_plan(spark, sf_dir, df_cap=cap)
        n = capped.count()
        dt = round(time.perf_counter() - t0, 1)
        print(
            json.dumps(
                {"valve_cap": cap, "scale": label, "sec": dt, "pairs": n}
            ),
            flush=True,
        )
    # Accuracy side, measured where exact is affordable.  NOTE (round-7
    # finding): capped pairs are NOT a subset of exact pairs — the cap
    # computes Jaccard over the CAPPED vocabulary, which can exceed the
    # full-vocabulary Jaccard when the dropped high-df tokens were
    # mostly unshared, so the valve is a different estimator, not a
    # filter of the exact output.  Report precision against the exact
    # operator instead of asserting containment.
    exact = QUERIES["dedup_prefix_filter"].builder(spark, SF01).select(
        "id_a", "id_b"
    )
    capped01 = _prefix_filter_plan(spark, SF01, df_cap=cap).select("id_a", "id_b")
    n_capped = capped01.count()
    stray = capped01.join(exact, ["id_a", "id_b"], "left_anti").count()
    print(
        json.dumps(
            {
                "valve_cap": cap,
                "sf0.1_capped_pairs": n_capped,
                "not_in_exact": stray,
                "precision_vs_exact_pct": round(
                    100 * (n_capped - stray) / max(n_capped, 1), 1
                ),
            }
        ),
        flush=True,
    )


def main() -> None:
    # Rehearsal session hardening (VERDICT r5 #1a / the r5 crash):
    # - explicit driver heap: the default (1g) is what OOM'd the r5 run
    #   when AQE upgraded a data-scaled frame to a driver-built
    #   broadcast; 16g gives the MEASUREMENT margin (the sandbox has
    #   128 GiB) — the plan-level fix is the merge-hint pinning in the
    #   dedup/ANN ladders (operators/hints.py), which this run validates.
    # - AQE runtime broadcast upgrades off: a size-misestimated upgrade
    #   mid-measurement would change the executed plan between scales
    #   and OOM exactly like r5; static dim broadcasts are unaffected.
    extra_conf = {
        "spark.driver.memory": "16g",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    if SKEW > 0:
        # Scale AQE's skew-split thresholds to the rehearsal's data
        # volume so the MECHANISM is exercisable: the production
        # defaults (256 MB skewed-partition floor) are sized for real
        # clusters, where a 30%-hot key easily clears them; at sf1 the
        # hot partition is ~tens of MB, below the default floor, and
        # the split would never engage regardless of skew.
        extra_conf.update(
            {
                # 2m/1m: the sf1 hot partition is ~5-6 MB compressed
                # (30% of an ~18 MB shuffle), so the floor must sit
                # below that for the split to be demonstrable — the
                # first run at 8m measured the hot partition just under
                # the floor and the split (correctly) stayed off
                "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": os.environ.get(
                    "REHEARSE_SKEW_THRESH", "2m"
                ),
                "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1m",
                "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
            }
        )
    spark = get_spark(app_name="awsbatch-sf1-rehearsal", extra_conf=extra_conf)
    spark.sparkContext.setLogLevel("ERROR")
    if SKEW > 0:
        built = build_tiled(spark, TILED_UNIFORM, skew=0, clique=0)
        built = build_tiled(spark, TILED, skew=SKEW, clique=CLIQUE) or built
        tiled_label = f"sf{REPLICAS / 10:g}"
        points = (
            (f"{tiled_label}-uniform", TILED_UNIFORM),
            (f"{tiled_label}-skew", TILED),
        )
    else:
        built = build_tiled(spark)
        tiled_label = f"sf{REPLICAS / 10:g}"
        points = (("sf0.1", SF01), (tiled_label, TILED))
    if os.environ.get("REHEARSE_BUILD_ONLY"):
        print(json.dumps({"built": built, "tiled": TILED}), flush=True)
        spark.stop()
        return
    if built:
        # round-13 hygiene (SCALING.md): measurements in the session
        # that wrote the tiling read up to 5.7x inflated — tag them so
        # no reader mistakes them for clean points
        print(
            json.dumps(
                {
                    "warning": "tiling built in this session; rows below"
                    " are tagged built_in_session — re-run for clean"
                    " measurements"
                }
            ),
            flush=True,
        )

    results: dict[str, dict[str, dict]] = {}
    for name in REHEARSAL:
        results[name] = {}
        for label, sf_dir in points:
            pre_stages = completed_stage_ids(spark) if SKEW > 0 else set()
            sw0 = shuffle_write_bytes(spark)
            t0 = time.perf_counter()
            # one failure must not lose the rest of the run's data
            # (ADVICE r5): record the error and keep measuring
            final_plan = None
            rss = None
            try:
                with _PyWorkerRss() as rss:
                    df = QUERIES[name].builder(spark, sf_dir)
                    # always the frame's own plan — df.count() would let
                    # Catalyst prune the work being measured (see
                    # _run_for_final_plan docstring)
                    n_rows, final_plan = _run_for_final_plan(df)
                err = None
            except Exception as exc:  # noqa: BLE001 — recorded, not hidden
                n_rows = None
                err = f"{type(exc).__name__}: {str(exc).splitlines()[0][:200]}"
            dt = round(time.perf_counter() - t0, 1)
            sw1 = shuffle_write_bytes(spark)
            rec = {
                "sec": dt,
                "rows": n_rows,
                "shuffle_mb": (
                    round((sw1 - sw0) / 1e6, 1) if sw0 >= 0 else None
                ),
            }
            if built:
                rec["built_in_session"] = True
            if rss is not None and rss.peak_mb:
                rec["py_worker_peak_rss_mb"] = rss.peak_mb
            if err is not None:
                rec["error"] = err
            if SKEW > 0 and err is None:
                new_ids = completed_stage_ids(spark) - pre_stages
                rec["task_skew"] = task_skew_ratio(spark, new_ids)
                # did AQE's skew-join split engage anywhere in the
                # executed (post-AQE) plan?
                rec["aqe_skew_split"] = "skew=true" in final_plan
            results[name][label] = rec
            print(json.dumps({"query": name, "scale": label, **rec}), flush=True)

    if SKEW > 0:
        _salted_ab(spark)
    valve_cap = os.environ.get("REHEARSE_VALVE_CAP")
    if valve_cap and SKEW == 0:
        _valve_scale_point(spark, int(valve_cap))

    if SKEW > 0:
        # skew mode compares hot-key vs uniform at ONE scale; the
        # scaling-exponent summary is meaningless here — report the
        # skew-vs-uniform slowdown and straggler ratios instead
        u, s = points[0][0], points[1][0]
        summary = {}
        for name, r in results.items():
            if any(rec.get("error") for rec in r.values()):
                summary[name] = {"error": True}
                continue
            summary[name] = {
                "slowdown": round(
                    max(r[s]["sec"], 0.1) / max(r[u]["sec"], 0.1), 2
                ),
                "uniform_task_skew": (r[u].get("task_skew") or {}).get("ratio"),
                "skewed_task_skew": (r[s].get("task_skew") or {}).get("ratio"),
                "aqe_skew_split": r[s].get("aqe_skew_split"),
            }
        print(json.dumps({"skew_summary": summary, "skew": SKEW,
                          "clique": CLIQUE}), flush=True)
        spark.stop()
        return

    import math

    # exponents are per decade of data growth, so 10x and 100x runs
    # report on the same scale (1.0 = linear in data)
    decades = math.log10(REPLICAS)
    tl = f"sf{REPLICAS / 10:g}"
    summary = {}
    for name, r in results.items():
        if any(rec.get("error") for rec in r.values()):
            summary[name] = {"error": True}
            continue
        e_t = (
            math.log10(max(r[tl]["sec"], 0.1) / max(r["sf0.1"]["sec"], 0.1))
            / decades
        )
        e_rows = (
            math.log10(max(r[tl]["rows"], 1) / max(r["sf0.1"]["rows"], 1))
            / decades
            if r["sf0.1"]["rows"]
            else None
        )
        summary[name] = {
            "time_exponent": round(e_t, 2),
            "rows_exponent": None if e_rows is None else round(e_rows, 2),
        }
    print(json.dumps({"summary": summary}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
