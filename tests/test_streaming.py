"""Streaming-engine gates (SURVEY §7 M3/M4).

M3 gate: the micro-batch engine replayed window-by-window over the driver
interactions equals the batch (ground-truth) pipeline — matrix, row sums,
total, and final top-K.

M4 gate: the sampled path's invariants (§5) — history capacity, admission
bounds with feedback slack, row-sum/row-entry conservation, and cuts=∞
equivalence to the non-sampled path.

Plus one true Structured Streaming run (file source → foreachBatch) to pin
the wiring, and late-data drop semantics.
"""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from flink_cooccurrence_spark.config import CooccurrenceConfig
from flink_cooccurrence_spark.operators.cooccurrence import (
    cooccurrence_counts,
    row_sums,
    total_observed,
)
from flink_cooccurrence_spark.operators.sampling import (
    item_cut_flags,
    reservoir_sample_user_histories,
)
from flink_cooccurrence_spark.oracle import WINDOW_MILLIS
from flink_cooccurrence_spark.plans.cooccurrence import topk_similar_items
from flink_cooccurrence_spark.registry import _interactions
from flink_cooccurrence_spark.streaming.engine import CooccurrenceStreamEngine
from flink_cooccurrence_spark.streaming.sources import interactions_csv_stream

SF_DIR = "/root/testdata/sf0.001"


def _cfg(**kw) -> CooccurrenceConfig:
    base = dict(window_size=1, window_unit="DAYS", top_k=10)
    base.update(kw)
    return CooccurrenceConfig(**base)


def _pdf(df):
    pdf = df.toPandas()
    return pdf[sorted(pdf.columns)].sort_values(by=sorted(pdf.columns)).reset_index(drop=True)


def assert_df_equal(got, exp, name):
    g, e = _pdf(got), _pdf(exp)
    assert len(g) == len(e), f"{name}: {len(g)} rows != {len(e)}"
    assert list(g.columns) == list(e.columns), f"{name}: {list(g.columns)}"
    for c in g.columns:
        assert (g[c].values == e[c].values).all(), f"{name}: column {c} differs"


@pytest.fixture(scope="module")
def inter(spark):
    return _interactions(spark, SF_DIR).cache()


@pytest.fixture(scope="module")
def inter_short(spark, inter):
    """First 12 of the corpus's 30 daily windows. The pairwise replay tests
    compare two engine runs (or an engine run vs the batch closed form) on
    the SAME input, so a shorter event horizon preserves their bit-identity
    contracts exactly while cutting replayed micro-batches ~60% — replay
    wall-clock is per-batch fixed cost, not data volume, at this scale.
    12 windows still spans every protocol transition the long horizon has:
    cold start, multi-batch state accumulation, feedback correction at
    batch N+1, and the reservoir fast/slow handoff. The two flagship
    module engines (``nonsampled_engine``, ``sampled_engine``) stay on the
    full corpus — they are the engine==batch gates the driver's oracle
    checks mirror."""
    lo = inter.agg(F.min("ts_ms")).first()[0]
    return inter.filter(F.col("ts_ms") < lo + 12 * WINDOW_MILLIS)


# ---------------------------------------------------------------- M3 gates

@pytest.fixture(scope="module")
def nonsampled_engine(spark, inter, tmp_path_factory):
    eng = CooccurrenceStreamEngine(
        spark,
        _cfg(skip_cuts=True),
        workdir=str(tmp_path_factory.mktemp("eng_ns")),
    )
    # 3 windows per batch: exercises both multi-window batches and state
    # carried across many batches
    eng.replay(inter, windows_per_batch=3)
    return eng


def test_streaming_matrix_equals_batch(nonsampled_engine, inter):
    assert_df_equal(nonsampled_engine.item_rows(), cooccurrence_counts(inter), "item_rows")


def test_streaming_row_sums_equal_batch(nonsampled_engine, inter):
    got = nonsampled_engine.row_sums().filter(F.col("row_sum") != 0)
    exp = row_sums(inter).filter(F.col("row_sum") != 0)
    assert_df_equal(got, exp, "row_sums")


def test_streaming_total_equals_batch(nonsampled_engine, inter):
    assert nonsampled_engine.total_observed() == total_observed(inter).first()[0]


def test_streaming_final_topk_equals_batch(nonsampled_engine, inter):
    assert_df_equal(
        nonsampled_engine.final_topk(), topk_similar_items(inter, k=10), "final_topk"
    )


def test_topk_update_log_covers_changed_items(nonsampled_engine):
    updates = nonsampled_engine.topk_updates()
    assert updates.count() > 0
    # every batch's emissions are ranked 1..K with K bounded
    bad = updates.filter((F.col("rank") < 1) | (F.col("rank") > 10)).count()
    assert bad == 0
    assert nonsampled_engine.metrics()["rescored_items"] > 0


def test_per_window_emission_log_matches_batch_protocol(spark, inter_short, tmp_path):
    """One window per micro-batch ⇒ the engine's top-K emission log equals
    the batch windowed rescorer output exactly — same changed-rows-only
    scoping, same sums-before-scores ordering, same cumulative state
    (ItemRowRescorerTwoInputStreamOperator protocol, SURVEY §2 op 13)."""
    from flink_cooccurrence_spark.plans.cooccurrence import (
        windowed_topk_similar_items,
    )

    sample = inter_short.filter(F.col("user") % 5 == 0)
    eng = CooccurrenceStreamEngine(
        spark, _cfg(skip_cuts=True), workdir=str(tmp_path / "emit")
    )
    eng.replay(sample, windows_per_batch=1)

    wins = sorted(
        r[0]
        for r in sample.withColumn(
            "w", F.col("ts_ms") - F.col("ts_ms") % WINDOW_MILLIS
        )
        .select("w")
        .distinct()
        .collect()
    )
    mapping = spark.createDataFrame(
        [(i, w + WINDOW_MILLIS - 1) for i, w in enumerate(wins)],
        "batch_id long, window_end long",
    )
    got = (
        eng.topk_updates()
        .join(mapping, on="batch_id")
        .select("window_end", "item", "rank", "other_item", "score")
    )
    exp = windowed_topk_similar_items(sample, WINDOW_MILLIS, k=10).select(
        "window_end", "item", "rank", "other_item", "score"
    )
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0


# --------------------------------------------------- real structured stream

def test_structured_streaming_file_source(spark, inter, tmp_path):
    """File-source CSV stream (one file per trigger) through foreachBatch
    equals the batch pipeline — the end-to-end M3 wiring."""
    sample = inter.filter(F.col("user") % 7 == 0)
    csv_dir = str(tmp_path / "csv_in")
    # one file per window, named in time order (the source processes
    # oldest-first; mod times of sequential writes are ascending)
    rows = sample.select("user", "item", "ts_ms").orderBy("ts_ms", "seq").collect()
    os.makedirs(csv_dir)
    n_files = 4
    per = (len(rows) + n_files - 1) // n_files
    base = 1_600_000_000
    for i in range(n_files):
        path = os.path.join(csv_dir, f"part-{i:04d}.csv")
        with open(path, "w") as f:
            for r in rows[i * per : (i + 1) * per]:
                f.write(f"{r['user']},{r['item']},{r['ts_ms']}\n")
        # the source hands files out oldest-first by mod time (the reference's
        # ContinuousFileMonitoringFunction order); fast sequential writes can
        # tie on the clock, so pin strictly ascending times
        os.utime(path, (base + i, base + i))

    eng = CooccurrenceStreamEngine(
        spark, _cfg(skip_cuts=True), workdir=str(tmp_path / "eng")
    )
    q = eng.attach(interactions_csv_stream(spark, csv_dir), available_now=True)
    q.awaitTermination(120)
    assert eng.metrics()["late_elements"] == 0
    assert_df_equal(eng.item_rows(), cooccurrence_counts(sample), "stream_vs_batch")
    assert eng.metrics()["batches"] >= 4


def test_engine_restart_resumes_from_checkpoint(spark, inter, tmp_path):
    """A NEW engine instance on the same workdir + checkpoint resumes state
    (the reference's checkpointed-source restart, SURVEY §2 op 1/§4.2):
    files arriving after a restart fold into the pre-restart state."""
    sample = inter.filter(F.col("user") % 13 == 0)
    rows = sample.select("user", "item", "ts_ms").orderBy("ts_ms", "seq").collect()
    csv_dir, wd = str(tmp_path / "csv"), str(tmp_path / "wd")
    os.makedirs(csv_dir)
    half = len(rows) // 2
    base = 1_600_000_000

    def write_file(i, chunk):
        p = os.path.join(csv_dir, f"part-{i:04d}.csv")
        with open(p, "w") as f:
            for r in chunk:
                f.write(f"{r['user']},{r['item']},{r['ts_ms']}\n")
        os.utime(p, (base + i, base + i))

    write_file(0, rows[:half])
    eng1 = CooccurrenceStreamEngine(spark, _cfg(skip_cuts=True), workdir=wd)
    eng1.attach(interactions_csv_stream(spark, csv_dir)).awaitTermination(120)

    write_file(1, rows[half:])
    eng2 = CooccurrenceStreamEngine(spark, _cfg(skip_cuts=True), workdir=wd)
    eng2.attach(interactions_csv_stream(spark, csv_dir)).awaitTermination(120)

    assert_df_equal(eng2.item_rows(), cooccurrence_counts(sample), "restart_resume")
    assert eng2.metrics()["batches"] == 2


def test_failed_batch_rolls_back_and_retries_cleanly(spark, tmp_path):
    """A batch that fails mid-update leaves no partial state: pointers roll
    back to the last commit, a retry produces exactly the same final state
    as a clean run (foreachBatch retry idempotency)."""
    cfg = _cfg(skip_cuts=True, window_size=1, window_unit="SECONDS")
    eng = CooccurrenceStreamEngine(spark, cfg, workdir=str(tmp_path / "rb"))
    b0 = spark.createDataFrame(
        [(1, 10, 1000, 0), (1, 11, 2000, 1)], "user int, item int, ts_ms long, seq long"
    )
    # all b1 timestamps ≥ b0's max ts (2000): nothing is late, so the
    # clean-run expectation is simply both batches combined
    b1 = spark.createDataFrame(
        [(1, 12, 3000, 2), (2, 10, 2500, 3), (2, 12, 3500, 4)],
        "user int, item int, ts_ms long, seq long",
    )
    eng.process_batch(b0, 0)
    pre_metrics = dict(eng.metrics())
    pre_rows = eng.item_rows().toPandas()

    real_merge = eng._merge_and_score

    def boom(*a, **k):
        raise RuntimeError("injected mid-batch failure")

    eng._merge_and_score = boom
    try:
        eng.process_batch(b1, 1)
    except RuntimeError:
        pass
    # state unchanged after the failed batch
    assert dict(eng.metrics()) == pre_metrics
    assert eng.item_rows().toPandas().equals(pre_rows)

    eng._merge_and_score = real_merge
    eng.process_batch(b1, 1)  # retry
    both = b0.unionByName(b1)
    assert_df_equal(eng.item_rows(), cooccurrence_counts(both), "retried_state")
    assert eng.total_observed() == total_observed(both).first()[0]
    # re-delivery of an already-committed batch (crash between state commit
    # and checkpoint commit) is a no-op
    eng.process_batch(b1, 1)
    assert eng.total_observed() == total_observed(both).first()[0]
    assert_df_equal(eng.item_rows(), cooccurrence_counts(both), "redelivered_state")


def test_late_rows_dropped_and_counted(spark, tmp_path):
    cfg = _cfg(skip_cuts=True, window_size=1, window_unit="SECONDS")
    eng = CooccurrenceStreamEngine(spark, cfg, workdir=str(tmp_path / "late"))
    b0 = spark.createDataFrame(
        [(1, 10, 5000, 0), (1, 11, 6000, 1)], "user int, item int, ts_ms long, seq long"
    )
    b1 = spark.createDataFrame(
        [(1, 12, 1000, 2), (1, 13, 7000, 3)], "user int, item int, ts_ms long, seq long"
    )
    eng.process_batch(b0, 0)
    eng.process_batch(b1, 1)  # ts=1000 < watermark 6000 → dropped
    assert eng.metrics()["late_elements"] == 1
    # dropped row contributed no pairs: items {10,11,13} pair fully = 3*2 cells
    assert eng.item_rows().count() == 6
    assert eng.total_observed() == 6


# ---------------------------------------------------------------- M4 gates

@pytest.fixture(scope="module")
def sampled_engine(spark, inter, tmp_path_factory):
    eng = CooccurrenceStreamEngine(
        spark,
        _cfg(item_cut=40, user_cut=8, seed=42),
        workdir=str(tmp_path_factory.mktemp("eng_s")),
    )
    eng.replay(inter, windows_per_batch=3)
    return eng


def test_sampled_history_capacity(sampled_engine):
    hist = sampled_engine.user_histories()
    over = hist.filter(F.size("history") > 8).count()
    assert over == 0
    assert hist.filter(F.size("history") > 0).count() > 0


def test_sampled_row_sum_conservation(sampled_engine):
    """DEVELOPMENT_MODE invariant (ItemRowRescorerTwoInputStreamOperator.java:183-193):
    materialized rowSum(i) == Σ_j C[i][j], and Σ rowSum == observed total."""
    from_rows = sampled_engine.item_rows().groupBy("item").agg(
        F.sum("cnt").alias("from_rows")
    )
    joined = (
        sampled_engine.row_sums()
        .join(from_rows, on="item", how="full")
        .fillna(0)
        .filter(F.col("row_sum") != F.col("from_rows"))
    )
    assert joined.count() == 0
    total = sampled_engine.row_sums().agg(F.sum("row_sum")).first()[0]
    assert total == sampled_engine.total_observed()


def test_sampled_admission_bound(sampled_engine, inter):
    """Admitted-per-item ≤ fMax + feedback slack: lifetime item-count state
    never exceeds fMax (feedback can only free slots, never overfill)."""
    ic = sampled_engine.item_counts()
    assert ic.filter(F.col("cnt") > 40).count() == 0


def test_sampled_matrix_entries_nonnegative(sampled_engine):
    assert sampled_engine.item_rows().filter(F.col("cnt") < 0).count() == 0


def test_infinite_cuts_equal_nonsampled(spark, inter_short, tmp_path):
    """cuts=∞ ⇒ the sampled machinery (reservoir + item cut + feedback)
    degenerates to the exact non-sampled matrix (SURVEY §5)."""
    big = 1 << 30
    sample = inter_short.filter(F.col("user") % 17 == 0)
    eng = CooccurrenceStreamEngine(
        spark,
        _cfg(item_cut=big, user_cut=big),
        workdir=str(tmp_path / "inf"),
    )
    eng.replay(sample, windows_per_batch=5)
    assert_df_equal(eng.item_rows(), cooccurrence_counts(sample), "inf_cuts_matrix")
    got_total = eng.total_observed()
    assert got_total == total_observed(sample).first()[0]


def test_batch_reservoir_equals_streaming_reservoir(spark, inter_short, tmp_path):
    """The counter-based draw makes the batch applyInPandas reservoir and the
    per-micro-batch stateful reservoir produce the identical final matrix."""
    sample = inter_short.filter(F.col("user") % 11 == 0)
    cfg = _cfg(item_cut=1 << 30, user_cut=5, seed=7)
    eng = CooccurrenceStreamEngine(spark, cfg, workdir=str(tmp_path / "resv"))
    eng.replay(sample, windows_per_batch=2)

    deltas = reservoir_sample_user_histories(
        sample, user_cut=5, window_millis=cfg.window_millis, seed=7
    )
    exp = (
        deltas.filter(F.col("kind") == "cooc")
        .groupBy("item", "other_item")
        .agg(F.sum("increment").cast("long").alias("cnt"))
        .filter(F.col("cnt") != 0)
    )
    assert_df_equal(eng.item_rows(), exp, "reservoir_batch_vs_stream")


def test_fast_path_bit_identical_to_forced_slow_path(spark, inter_short, tmp_path):
    """The below-capacity reservoir fast path (``_sampled_fast_deltas``) is
    a pure physical rewrite: a replay where it fires on some batches equals
    the identical replay with the fast path disabled — matrix, row sums,
    total, final top-K, AND the persisted user histories — bit for bit.

    The config is chosen for a MIXED regime: the opening batch(es) are
    below capacity (fast path fires), later ones cross kMax (Arrow
    processor), so the handoff boundary itself is under test. (The
    corpus's heavy users cross early whatever the cut, so raising
    user_cut past ~10 buys no extra fast batches — probed; wpb=4/uc=10
    keeps the same 1-fast/7-slow handoff as the original wpb=2/uc=6 at a
    third of the wall-clock.)"""
    sample = inter_short.filter(F.col("user") % 11 == 0)
    kw = dict(item_cut=40, user_cut=10, seed=42)

    fast = CooccurrenceStreamEngine(spark, _cfg(**kw), workdir=str(tmp_path / "f"))
    fast.replay(sample, windows_per_batch=4)

    slow = CooccurrenceStreamEngine(spark, _cfg(**kw), workdir=str(tmp_path / "s"))
    # an absurd prior max-history defeats eligibility on every batch;
    # instance attribute shadows the method for THIS engine only
    slow._max_hist_len = lambda: 1 << 60
    slow.replay(sample, windows_per_batch=4)

    mf, ms = fast.metrics(), slow.metrics()
    assert ms["fast_path_batches"] == 0
    assert 0 < mf["fast_path_batches"] < mf["batches"], mf  # mixed regime

    assert_df_equal(fast.item_rows(), slow.item_rows(), "fastpath_matrix")
    assert_df_equal(fast.row_sums(), slow.row_sums(), "fastpath_row_sums")
    assert fast.total_observed() == slow.total_observed()
    assert_df_equal(fast.final_topk(), slow.final_topk(), "fastpath_topk")
    # array column is unhashable for the pandas sort — compare as text
    def _h(e):
        return e.user_histories().select(
            "user", F.col("history").cast("string").alias("history"), "total"
        )

    assert_df_equal(_h(fast), _h(slow), "fastpath_histories")


def test_user_state_writes_prune_to_touched_buckets(spark, tmp_path):
    """The user-side state tables are hash-bucketed: a batch touching one
    user rewrites only that user's bucket — every other bucket's version
    pointer (and its parquet dir) is untouched. This is the put_parts MERGE
    contract on ``user_histories``/``item_counts``, the round-3 full-rewrite
    flaw class."""
    cfg = _cfg(item_cut=1 << 30, user_cut=4, seed=1)
    eng = CooccurrenceStreamEngine(spark, cfg, workdir=str(tmp_path / "prune"))

    def bucket_of(key: int, col: str = "user") -> str:
        return str(
            spark.createDataFrame([(key,)], f"{col} int")
            .select(eng._bucket(col).alias("b"))
            .first()["b"]
        )

    schema = "user int, item int, ts_ms long, seq long"
    eng.process_batch(
        spark.createDataFrame([(1, 10, 1000, 0), (1, 11, 2000, 1)], schema), 0
    )
    ptr0 = dict(eng.state._versions["user_histories"]["buckets"])
    assert set(b for b, v in ptr0.items() if v > 0) == {bucket_of(1)}

    # second batch: a user in a different bucket (hash buckets of 1 and u
    # differ) — user 1's bucket pointer must not move
    u2 = next(u for u in range(2, 200) if bucket_of(u) != bucket_of(1))
    eng.process_batch(
        spark.createDataFrame([(u2, 10, 3000, 2)], schema), 1
    )
    ptr1 = eng.state._versions["user_histories"]["buckets"]
    assert ptr1[bucket_of(1)] == ptr0[bucket_of(1)]  # untouched bucket kept
    assert ptr1[bucket_of(u2)] > ptr0.get(bucket_of(u2), 0)  # touched bumped

    # item-side: only the batch items' buckets (plus feedback's, empty
    # here) hold item_counts pointers
    ic_ptr = eng.state._versions["item_counts"]["buckets"]
    assert set(b for b, v in ic_ptr.items() if v > 0) <= {
        bucket_of(10, "item"),
        bucket_of(11, "item"),
    }


def test_nondefault_state_buckets_roundtrip_restart(spark, inter_short, tmp_path):
    """A non-default bucket count is a property of the written state: an
    engine restarted on that state with a DIFFERENT configured count keeps
    the persisted one, and the resumed run is bit-identical to an
    uninterrupted replay (bucketing is physical layout only)."""
    sample = inter_short.filter(F.col("user") % 13 == 0)
    cfg5 = _cfg(item_cut=40, user_cut=6, seed=42, state_buckets=5)
    wd = str(tmp_path / "wd5")

    from flink_cooccurrence_spark.operators.cooccurrence import with_window

    wpb = 4  # windows per batch — final state is cadence-independent for
    # in-order replay, so the interrupted and plain runs may both chunk
    wdf = with_window(sample, cfg5.window_millis).persist()
    windows = [
        r[0]
        for r in wdf.select("window_start").distinct().orderBy("window_start").collect()
    ]
    chunks = [windows[i : i + wpb] for i in range(0, len(windows), wpb)]
    half = max(1, len(chunks) // 2)

    def feed(eng, chs, start_bid):
        for bid, ch in enumerate(chs, start=start_bid):
            eng.process_batch(
                wdf.filter(F.col("window_start").isin(ch)).drop("window_start"),
                bid,
            )

    eng1 = CooccurrenceStreamEngine(spark, cfg5, workdir=wd)
    assert eng1.state_buckets == 5
    feed(eng1, chunks[:half], 0)

    # restart with the DEFAULT config: persisted bucket count must win
    eng2 = CooccurrenceStreamEngine(
        spark, _cfg(item_cut=40, user_cut=6, seed=42), workdir=wd
    )
    assert eng2.state_buckets == 5
    feed(eng2, chunks[half:], half)

    plain = CooccurrenceStreamEngine(
        spark,
        _cfg(item_cut=40, user_cut=6, seed=42),
        workdir=str(tmp_path / "plain"),
    )
    plain.replay(sample, windows_per_batch=wpb)
    wdf.unpersist(blocking=False)
    assert_df_equal(eng2.item_rows(), plain.item_rows(), "buckets5_matrix")
    assert_df_equal(eng2.row_sums(), plain.row_sums(), "buckets5_row_sums")
    assert eng2.total_observed() == plain.total_observed()


def test_wide_state_buckets_fallback_bit_identical(spark, inter_short, tmp_path):
    """state_buckets > 64 exceeds the early-stats item-bucket bit mask
    (one bit per bucket in a long) and must take the flat collect_set
    fallback. The fallback sits in the sampled-path stats rollup, which
    runs identically whatever the cut values — so cuts=∞ exercises it
    while letting the output be checked against the exact batch matrix
    in ONE replay (bucketing is physical layout only)."""
    big = 1 << 30
    sample = inter_short.filter(F.col("user") % 13 == 0)
    eng = CooccurrenceStreamEngine(
        spark,
        _cfg(item_cut=big, user_cut=big, seed=42, state_buckets=80),
        workdir=str(tmp_path / "wd80"),
    )
    assert eng.state_buckets == 80
    eng.replay(sample, windows_per_batch=4)
    assert_df_equal(eng.item_rows(), cooccurrence_counts(sample), "buckets80_matrix")
    assert eng.total_observed() == total_observed(sample).first()[0]


def test_salted_cooccurrence_equals_unsalted(spark, inter):
    """Skew-salted expanding self-join is a pure physical rewrite."""
    plain = cooccurrence_counts(inter)
    salted = cooccurrence_counts(inter, salt_buckets=4)
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_item_cut_flags_admission_prefix(spark, inter):
    """First fMax interactions per item (processing order) are flagged."""
    flags = item_cut_flags(inter, 50, WINDOW_MILLIS)
    admitted = flags.filter("sampled").groupBy("item").count()
    assert admitted.filter(F.col("count") > 50).count() == 0


# ------------------------------------------- native continuous sampled job
#
# Both tests share one input-file spool and ONE ground-truth replay engine
# (module fixtures): the uninterrupted-run and kill-restart tests compare
# against the same deterministic replay, so the expensive pieces (window
# file writing, the replayed engine) run once for the module.

NATIVE_CFG_KW = dict(item_cut=40, user_cut=6, seed=42)


@pytest.fixture(scope="module")
def native_inputs(spark, inter_short, tmp_path_factory):
    """(sample, files_dir, n_files): window-ordered input spool for the
    native writeStream runs. Rides ``inter_short`` (12 windows → 6 files →
    6 micro-batches per run): both native runs compare against a replay of
    the SAME slice, and the kill-restart still lands mid-stream with 3
    committed + 3 resumed batches."""
    from flink_cooccurrence_spark.streaming.native import write_window_files

    sample = inter_short.filter(F.col("user") % 4 == 0).cache()
    cfg = _cfg(**NATIVE_CFG_KW)
    files_dir = str(tmp_path_factory.mktemp("native_files"))
    n_files = write_window_files(
        sample, cfg.window_millis, files_dir, windows_per_file=2
    )
    assert n_files >= 4  # multi-batch runs or the tests prove nothing
    return sample, files_dir, n_files


@pytest.fixture(scope="module")
def native_replayed(spark, native_inputs, tmp_path_factory):
    """The deterministic ground-truth replay both native runs must equal."""
    sample, _files, _n = native_inputs
    eng = CooccurrenceStreamEngine(
        spark, _cfg(**NATIVE_CFG_KW), workdir=str(tmp_path_factory.mktemp("replay_wd"))
    )
    eng.replay(sample, windows_per_batch=2)
    return eng


def test_native_sampled_stream_bit_identical_to_replay(
    spark, native_inputs, native_replayed, tmp_path
):
    """The full sampled DAG (feedback-corrected cut + reservoir) running as
    ONE writeStream job off the file source equals the deterministic replay
    bit-for-bit — matrix, row sums, and total (the counter-based draws make
    the comparison exact)."""
    from flink_cooccurrence_spark.streaming.native import run_sampled_stream

    _sample, files_dir, n_files = native_inputs
    native = run_sampled_stream(
        spark, files_dir, _cfg(**NATIVE_CFG_KW), workdir=str(tmp_path / "native_wd")
    )
    assert native.metrics()["batches"] == n_files
    assert_df_equal(native.item_rows(), native_replayed.item_rows(), "native_matrix")
    assert_df_equal(native.row_sums(), native_replayed.row_sums(), "native_row_sums")
    assert native.total_observed() == native_replayed.total_observed()


def test_sampled_replay_equals_hand_written_process_batch_loop(
    spark, native_inputs, native_replayed, tmp_path
):
    """``replay(windows_per_batch=2)`` is a plain ``process_batch`` loop:
    feeding the same two-window slices by hand, with the same batch ids,
    yields the identical top-K emission log and accumulator metrics on
    the sampled path (feedback, reservoir and fast-path counters)."""
    from flink_cooccurrence_spark.operators.cooccurrence import with_window

    sample, _files, _n = native_inputs
    cfg = _cfg(**NATIVE_CFG_KW)
    eng = CooccurrenceStreamEngine(spark, cfg, workdir=str(tmp_path / "loop"))
    wdf = with_window(sample, cfg.window_millis)
    windows = sorted(
        r[0] for r in wdf.select("window_start").distinct().collect()
    )
    for i in range(0, len(windows), 2):
        lo, hi = windows[i], windows[min(i + 1, len(windows) - 1)]
        eng.process_batch(
            wdf.filter(F.col("window_start").between(lo, hi)).drop(
                "window_start"
            ),
            i // 2,
        )
    assert eng.metrics() == native_replayed.metrics()
    assert_df_equal(
        eng.topk_updates(), native_replayed.topk_updates(), "loop_topk_log"
    )
    eng.close()


def test_native_sampled_stream_restart_mid_stream(
    spark, native_inputs, native_replayed, tmp_path
):
    """Kill the continuous sampled job mid-stream (half the files), restart
    from the checkpoint with a NEW engine instance, feed the rest: the final
    state is bit-identical to an uninterrupted replay — the reference's
    checkpoint-restore contract on its core pipeline."""
    from flink_cooccurrence_spark.streaming.native import run_sampled_stream

    _sample, all_dir, n_files = native_inputs
    cfg = _cfg(**NATIVE_CFG_KW)
    half_dir = str(tmp_path / "half")

    # phase 1: only the first half of the files exist; the job processes
    # them and stops (the "kill" point — state + checkpoint are on disk)
    import shutil

    os.makedirs(half_dir)
    files = sorted(os.listdir(all_dir))
    for f in files[: n_files // 2]:
        shutil.copy2(os.path.join(all_dir, f), os.path.join(half_dir, f))
    wd = str(tmp_path / "wd")
    eng1 = run_sampled_stream(spark, half_dir, cfg, workdir=wd)
    assert eng1.metrics()["batches"] == n_files // 2

    # phase 2: the rest of the files arrive; a NEW engine on the same
    # workdir resumes from the source checkpoint + state high-water mark
    for f in files[n_files // 2 :]:
        shutil.copy2(os.path.join(all_dir, f), os.path.join(half_dir, f))
    eng2 = run_sampled_stream(spark, half_dir, cfg, workdir=wd)
    assert eng2.metrics()["batches"] == n_files

    assert_df_equal(eng2.item_rows(), native_replayed.item_rows(), "restart_matrix")
    assert_df_equal(eng2.row_sums(), native_replayed.row_sums(), "restart_row_sums")
    assert eng2.total_observed() == native_replayed.total_observed()


def test_native_sampled_stream_abrupt_kill_mid_flight(
    spark, native_inputs, native_replayed, tmp_path
):
    """The HARD restart case: ``query.stop()`` fired while the stream is
    mid-flight (not a drained availableNow stop — the graceful variant is
    the test above). The kill can land inside an uncommitted batch, whose
    rollback + checkpoint re-delivery on restart must reconstruct the
    exact state an uninterrupted run produces — the Spark-side proof of
    the reference's exactly-once story (ContinuousFileMonitoringFunction
    mod-time state, SURVEY §4.2)."""
    import time as _t

    from flink_cooccurrence_spark.streaming.native import run_sampled_stream
    from flink_cooccurrence_spark.streaming.sources import (
        interactions_parquet_stream,
    )

    _sample, files_dir, n_files = native_inputs
    cfg = _cfg(**NATIVE_CFG_KW)
    wd = str(tmp_path / "wd")
    eng1 = CooccurrenceStreamEngine(spark, cfg, workdir=wd)
    stream = interactions_parquet_stream(spark, files_dir, max_files_per_trigger=1)
    query = eng1.attach(stream, available_now=True)
    # kill as soon as the FIRST batch has committed — with one file per
    # trigger the stop then lands while a later batch is in flight.
    # Poll the COMMITTED on-disk manifest, not the in-memory scalar: the
    # scalar is staged at the phase-2 barrier before drain+commit, so a
    # stop() landing in that window would roll it back and flake the
    # "kill landed before any batch committed" assertion below.
    deadline = _t.time() + 120
    while (
        eng1.state._committed_meta()["scalars"].get("last_batch_id", -1) < 0
        and _t.time() < deadline
    ):
        _t.sleep(0.02)
    query.stop()
    try:
        query.awaitTermination(60)
    except Exception:
        pass  # an interrupted in-flight batch may surface its abort here
    eng1.close()
    committed = eng1.state._committed_meta()["scalars"].get("batches", 0)
    assert committed >= 1, "kill landed before any batch committed"
    assert committed < n_files, (
        "stream drained before the kill — the test proved nothing; "
        "tighten the poll interval"
    )

    # restart on the same workdir: source checkpoint + state high-water
    # mark resume; a batch killed between its state commit and the
    # checkpoint commit is re-delivered and skipped by the guard
    eng2 = run_sampled_stream(spark, files_dir, cfg, workdir=wd)
    assert eng2.metrics()["batches"] == n_files
    assert_df_equal(eng2.item_rows(), native_replayed.item_rows(), "kill_matrix")
    assert_df_equal(eng2.row_sums(), native_replayed.row_sums(), "kill_row_sums")
    assert eng2.total_observed() == native_replayed.total_observed()


def test_pipelined_write_failure_rolls_back_and_scrubs_emissions(
    spark, inter_short, tmp_path
):
    """The pipelined replay's failure contract: a state write that dies
    AFTER its batch deferred (the failure surfaces at the successor's
    settle) must roll everything back to the last committed batch — the
    in-memory pointers/scalars match the on-disk manifest, and no top-K
    emission survives beyond the committed high-water mark (the dead
    batch's rescore may have already landed its output dir; the settle's
    abort path removes it)."""
    eng = CooccurrenceStreamEngine(
        spark, _cfg(skip_cuts=True), workdir=str(tmp_path / "wd")
    )
    orig = eng.state.put_parts
    calls = {"n": 0}

    def flaky(name, df, buckets):
        if name == "item_rows":
            calls["n"] += 1
            if calls["n"] == 3:  # the third batch's merge write dies async
                raise OSError("injected item_rows write failure")
        orig(name, df, buckets)

    eng.state.put_parts = flaky
    with pytest.raises(OSError, match="injected"):
        eng.replay(inter_short, windows_per_batch=2)
    committed = eng.state._committed_meta()["scalars"]
    hwm = eng.state.get_scalar("last_batch_id", -1)
    assert hwm == committed.get("last_batch_id", -1)  # rolled back to disk
    assert hwm >= 0  # at least one batch landed before the injected death
    for key in ("observed_cooccurrences", "batches", "watermark_ms"):
        assert eng.state.get_scalar(key, -1) == committed.get(key, -1), key
    emitted = {
        int(r["batch_id"])
        for r in eng.topk_updates().select("batch_id").distinct().collect()
    }
    assert all(b <= hwm for b in emitted), (emitted, hwm)
    eng.close()


def test_commit_failure_rolls_back_high_water_mark(spark, tmp_path):
    """A commit() failure (e.g. ENOSPC on the manifest) must roll the
    in-memory high-water mark back too — the retried batch would otherwise
    be skipped as already done with nothing durable on disk."""
    cfg = _cfg(skip_cuts=True, window_size=1, window_unit="SECONDS")
    eng = CooccurrenceStreamEngine(spark, cfg, workdir=str(tmp_path / "cf"))
    b0 = spark.createDataFrame(
        [(1, 10, 1000, 0), (1, 11, 2000, 1)], "user int, item int, ts_ms long, seq long"
    )
    real_commit = eng.state.commit

    def boom():
        raise OSError("injected manifest-write failure")

    eng.state.commit = boom
    with pytest.raises(OSError):
        eng.process_batch(b0, 0)
    eng.state.commit = real_commit
    assert eng.state.get_scalar("last_batch_id", -1) == -1  # rolled back

    eng.process_batch(b0, 0)  # retry must NOT be skipped
    assert_df_equal(eng.item_rows(), cooccurrence_counts(b0), "retried_after_commit_fail")


def test_replay_then_attach_same_workdir_fails_loudly(spark, tmp_path):
    """Replay's counter and Spark's checkpointed epoch counter are separate
    batch-id domains: attaching a stream to a replay-written workdir would
    silently skip the stream's first batches — it must raise instead."""
    cfg = _cfg(skip_cuts=True, window_size=1, window_unit="SECONDS")
    wd = str(tmp_path / "mix")
    eng = CooccurrenceStreamEngine(spark, cfg, workdir=wd)
    b0 = spark.createDataFrame(
        [(1, 10, 1000, 0), (1, 11, 2000, 1)], "user int, item int, ts_ms long, seq long"
    )
    eng.replay(b0, windows_per_batch=8)
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .selectExpr("1 as user", "2 as item", "0 as ts_ms", "0 as seq")
    )
    with pytest.raises(ValueError, match="fresh workdir"):
        eng.attach(stream)


def test_replay_after_replay_accumulates_not_noops(spark, inter_short, tmp_path):
    """A second replay() on the same workdir continues batch numbering from
    the high-water mark, so its input is processed as new data — state equals
    one replay over the concatenation, never a silent no-op."""
    cfg = _cfg(skip_cuts=True)
    # split by event time on a window boundary (not by key): the engine's
    # ascending watermark carries across replays, so a continuation's events
    # must be later — earlier ones would be correctly dropped as late
    mid = inter_short.approxQuantile("ts_ms", [0.5], 0.0)[0]
    mid = (int(mid) // cfg.window_millis) * cfg.window_millis
    half = inter_short.filter(F.col("ts_ms") < mid)
    rest = inter_short.filter(F.col("ts_ms") >= mid)

    eng = CooccurrenceStreamEngine(spark, cfg, workdir=str(tmp_path / "twice"))
    eng.replay(half, windows_per_batch=4)
    eng.replay(rest, windows_per_batch=4)

    assert_df_equal(eng.item_rows(), cooccurrence_counts(inter_short), "replay_twice_matrix")
    assert eng.total_observed() == total_observed(inter_short).first()[0]


@pytest.mark.parametrize("skip_cuts", [True, False])
def test_empty_and_all_late_batches_are_inert(spark, tmp_path, skip_cuts):
    """A real stream delivers empty triggers (idle source) and batches
    whose every row is late — both must advance the batch counter, count
    the drops, touch no state, and leave the engine processing normally
    afterwards, on BOTH the non-sampled and the sampled path (the sampled
    stats rollup aggregates an empty frame to one all-NULL row)."""
    cfg = _cfg(
        window_size=1, window_unit="SECONDS", skip_cuts=skip_cuts,
        **({} if skip_cuts else dict(item_cut=40, user_cut=5, seed=1)),
    )
    eng = CooccurrenceStreamEngine(spark, cfg, workdir=str(tmp_path / "wd"))
    S = "user int, item int, ts_ms long, seq long"
    eng.process_batch(
        spark.createDataFrame([(1, 10, 5000, 0), (1, 11, 6000, 1)], S), 0
    )
    eng.process_batch(spark.createDataFrame([], S), 1)  # idle trigger
    eng.process_batch(  # every row below the 6000 watermark
        spark.createDataFrame([(2, 12, 100, 2), (2, 13, 200, 3)], S), 2
    )
    eng.process_batch(spark.createDataFrame([(1, 12, 9000, 4)], S), 3)
    m = eng.metrics()
    assert m["batches"] == 4
    assert m["late_elements"] == 2
    # the late user-2 rows contributed nothing; user 1's {10,11,12} pair
    # fully: 3·2 cells (cuts admit everything at these sizes)
    assert eng.item_rows().count() == 6
    assert eng.total_observed() == 6
    eng.close()
