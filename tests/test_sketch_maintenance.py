"""Streaming sketch maintenance: incrementally merged state equals the
batch-built state over the union of the data — the property that makes
a sketch the 100 TB answer to continuous distinct counting. Every family
goes through the one merge core, ``merge_state``; a per-batch call is a
one-label transition."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

# (key_cols, aggs) of each family's state
HLL = dict(key_cols=["event_type", "reg"], aggs={"mrho": "max"})
CMS = dict(key_cols=["seed", "bucket"], aggs={"total": "sum"})
BITMAP = dict(key_cols=["grp", "w"], aggs={"bits": "bit_or"})
MINMAX = dict(
    key_cols=["user_id", "arm"],
    aggs={"enroll_week": "min", "conv_week": "min", "last_week": "max"},
)


def _merge1(spark, state, batch, batch_id, spec):
    """One-label transition: ``batch`` applied under ``batch_id``."""
    from datalakes_and_data_integration_spark.streaming.sketch_maintenance import (
        BID,
        merge_state,
    )

    return merge_state(
        spark, state, batch.withColumn(BID, F.lit(batch_id)), [batch_id],
        **spec,
    )


def _hll_est(regs):
    """(event_type, hll_est) from a register file, through the query-side
    estimator (``hll_sum_aggs``/``hll_corrected_col``)."""
    from datalakes_and_data_integration_spark.plans.sketches import (
        hll_corrected_col,
        hll_sum_aggs,
    )

    return (
        regs.groupBy("event_type")
        .agg(*hll_sum_aggs())
        .select(
            "event_type", F.round(hll_corrected_col(), 4).alias("hll_est")
        )
    )


def _events(spark, sf="/root/testdata/sf0.001"):
    from datalakes_and_data_integration_spark.plans._util import T

    return T(spark, sf, "events").select("event_type", "user_id", "event_id")


def test_incremental_merge_equals_batch(spark):
    from datalakes_and_data_integration_spark.plans.sketches import hll_regs

    ev = _events(spark)
    b1 = ev.filter(F.col("event_id") % 2 == 0)
    b2 = ev.filter(F.col("event_id") % 2 == 1)

    state = tempfile.mkdtemp(prefix="hllstate_") + "/regs"
    _merge1(spark, state, hll_regs(b1, "event_type"), 0, HLL)
    merged = _merge1(
        spark, state, hll_regs(b2, "event_type"), 1, HLL
    )

    batch = hll_regs(ev, "event_type")
    m = {(r.event_type, r.reg): r.mrho for r in merged.collect()}
    b = {(r.event_type, r.reg): r.mrho for r in batch.collect()}
    assert m == b


def test_redelivery_is_noop(spark):
    """Redelivery under a FRESH batch id gets past the ledger, so only
    max idempotence keeps the registers unchanged."""
    from datalakes_and_data_integration_spark.plans.sketches import hll_regs

    ev = _events(spark)
    state = tempfile.mkdtemp(prefix="hllstate_") + "/regs"
    regs = hll_regs(ev, "event_type")
    first = {
        (r.event_type, r.reg): r.mrho
        for r in _merge1(spark, state, regs, 0, HLL).collect()
    }
    again = {
        (r.event_type, r.reg): r.mrho
        for r in _merge1(spark, state, regs, 1, HLL).collect()
    }
    assert first == again


def test_estimate_matches_query_path(spark):
    """The maintained-state estimate equals distinct_count_hll's estimate
    for the same data (same hash family, same correction)."""
    from datalakes_and_data_integration_spark.plans import all_queries
    from datalakes_and_data_integration_spark.plans.sketches import hll_regs

    sf = "/root/testdata/sf0.001"
    ev = _events(spark, sf)
    est = {
        r.event_type: r.hll_est
        for r in _hll_est(
            hll_regs(ev, "event_type")
        ).collect()
    }
    ref = {
        r.event_type: r.hll_est
        for r in all_queries()["distinct_count_hll"](spark, sf).collect()
    }
    assert est == ref


def test_cms_merge_is_exactly_once_behind_the_ledger(spark, tmp_path):
    """CMS merge is SUM — redelivery would double-count — so the ledger
    must make a replayed batch id a no-op, while a NEW id still merges;
    and the maintained sketch must equal the batch-built one."""
    from pyspark.sql import functions as F

    from datalakes_and_data_integration_spark.plans._util import T
    from datalakes_and_data_integration_spark.streaming.sketch_maintenance import (
        cms_rows,
    )

    ev = T(spark, "/root/testdata/sf0.001", "events").select("user_id", "ts")
    b1 = ev.filter(F.col("ts") < "2024-01-15")
    b2 = ev.filter(F.col("ts") >= "2024-01-15")
    state = str(tmp_path / "cms_state")

    _merge1(spark, state, cms_rows(b1, "user_id"), 0, CMS)
    merged = _merge1(spark, state, cms_rows(b2, "user_id"), 1, CMS)
    snapshot = {(r.seed, r.bucket): r.total for r in merged.collect()}

    # replayed ids: both are no-ops
    for bid, b in ((0, b1), (1, b2)):
        replay = _merge1(spark, state, cms_rows(b, "user_id"), bid, CMS)
        assert {
            (r.seed, r.bucket): r.total for r in replay.collect()
        } == snapshot

    # maintained == batch-built over the union
    full = {
        (r.seed, r.bucket): r.total
        for r in cms_rows(ev, "user_id").collect()
    }
    assert snapshot == full

    # a new id still merges (totals strictly grow somewhere)
    again = _merge1(spark, state, cms_rows(b1, "user_id"), 2, CMS)
    grown = {(r.seed, r.bucket): r.total for r in again.collect()}
    assert sum(grown.values()) > sum(snapshot.values())


def test_bitmap_merge_is_idempotent_without_a_ledger(spark, tmp_path):
    """bit_or is idempotent: replaying ANY batch under a fresh id (past
    the ledger, so no ledger involved) must leave the state
    byte-identical, and the maintained words must equal the batch-built
    words over the union."""
    from pyspark.sql import functions as F

    from datalakes_and_data_integration_spark.plans._util import T
    from datalakes_and_data_integration_spark.plans.sketches import (
        bitmap_word_rows,
    )

    ev = T(spark, "/root/testdata/sf0.001", "events").select(
        "event_type", "user_id", "ts"
    )
    b1 = ev.filter(F.col("ts") < "2024-01-15")
    b2 = ev.filter(F.col("ts") >= "2024-01-15")
    state = str(tmp_path / "words")

    _merge1(
        spark, state, bitmap_word_rows(b1, "event_type", "user_id"), 0,
        BITMAP,
    )
    merged = _merge1(
        spark, state, bitmap_word_rows(b2, "event_type", "user_id"), 1,
        BITMAP,
    )
    snapshot = {(r.grp, r.w): r.bits for r in merged.collect()}

    # replay both, in any order, each under a fresh id
    for bid, b in ((2, b1), (3, b2), (4, b1)):
        replay = _merge1(
            spark, state, bitmap_word_rows(b, "event_type", "user_id"), bid,
            BITMAP,
        )
        assert {(r.grp, r.w): r.bits for r in replay.collect()} == snapshot

    full = {
        (r.grp, r.w): r.bits
        for r in bitmap_word_rows(ev, "event_type", "user_id").collect()
    }
    assert snapshot == full


def test_triptych_reports_share_one_maintained_state_root(spark, tmp_path):
    """Operational composition (VERDICT r7 next-round #7): ONE state
    root maintains all three sketch families across two batches, then
    the CMS heavy-hitter estimates, the bitmap distinct report, and the
    HLL estimates are all served from that SAME maintained state; a
    replayed batch 0 (CMS: ledger no-op under the same id; bitmap: OR
    idempotence and HLL: max idempotence, both under a fresh id past
    the ledger) leaves every report byte-identical, and each maintained
    report equals its batch-built-from-scratch twin."""
    from datalakes_and_data_integration_spark.plans.sketches import (
        bitmap_popcount_report,
        bitmap_word_rows,
        hll_regs,
    )
    from datalakes_and_data_integration_spark.streaming.sketch_maintenance import (
        cms_lookup,
        cms_rows,
    )

    root = tmp_path / "state"
    cms_dir = str(root / "cms")
    bm_dir = str(root / "words")
    hll_dir = str(root / "hll")

    ev = _events(spark)
    b1 = ev.filter(F.col("event_id") % 2 == 0)
    b2 = ev.filter(F.col("event_id") % 2 == 1)

    for i, b in enumerate((b1, b2)):
        sk = _merge1(spark, cms_dir, cms_rows(b, "user_id"), i, CMS)
        wd = _merge1(
            spark, bm_dir, bitmap_word_rows(b, "event_type", "user_id"), i,
            BITMAP,
        )
        hl = _merge1(
            spark, hll_dir, hll_regs(b, "event_type"), i, HLL
        )

    top = (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "user_id")
        .limit(5)
    )

    def reports(sk, wd, hl):
        cms = sorted(
            (r.user_id, r.cnt, r.cms_est)
            for r in cms_lookup(top, sk, "user_id").collect()
        )
        bm = sorted(
            (r.event_type, r.n_users)
            for r in bitmap_popcount_report(wd, "event_type").collect()
        )
        est = sorted(
            (r.event_type, r.hll_est) for r in _hll_est(hl).collect()
        )
        return cms, bm, est

    first = reports(sk, wd, hl)

    # replay batch 0 against the same root: all three must be no-ops
    sk2 = _merge1(spark, cms_dir, cms_rows(b1, "user_id"), 0, CMS)
    wd2 = _merge1(
        spark, bm_dir, bitmap_word_rows(b1, "event_type", "user_id"), 2,
        BITMAP,
    )
    hl2 = _merge1(
        spark, hll_dir, hll_regs(b1, "event_type"), 2, HLL
    )
    assert reports(sk2, wd2, hl2) == first

    # maintained == batch-built, family by family
    batch_sk = cms_rows(ev, "user_id")
    m = {(r.seed, r.bucket): r.total for r in sk2.collect()}
    b = {(r.seed, r.bucket): r.total for r in batch_sk.collect()}
    assert m == b
    batch_wd = bitmap_word_rows(ev, "event_type", "user_id")
    mw = {(r.grp, r.w): r.bits for r in wd2.collect()}
    bw = {(r.grp, r.w): r.bits for r in batch_wd.collect()}
    assert mw == bw
    batch_hll = hll_regs(ev, "event_type")
    mh = {(r.event_type, r.reg): r.mrho for r in hl2.collect()}
    bh = {(r.event_type, r.reg): r.mrho for r in batch_hll.collect()}
    assert mh == bh


def test_entry_gc_removes_orphaned_staged_sketch_dirs(spark, tmp_path):
    """ADVICE r8: a crash between the staged parquet write and the
    os.replace commit orphans a sketch-* dir, and a retry under a
    different batch id stages a DIFFERENT name — the orphan would live
    forever. The merge must GC anything COMMIT.json doesn't name on
    entry, and must leave the committed generation alone."""
    import json
    import os

    from datalakes_and_data_integration_spark.streaming.sketch_maintenance import (
        cms_rows,
    )

    ev = _events(spark)
    state = str(tmp_path / "cms")
    _merge1(
        spark, state, cms_rows(ev.filter("event_id % 2 = 0"), "user_id"), 0,
        CMS,
    )
    committed = json.load(open(os.path.join(state, "COMMIT.json")))["sketch"]
    # simulate the crash: an uncommitted staged dir from a dead attempt
    orphan = os.path.join(state, "sketch-999999-dead")
    os.makedirs(orphan)
    open(os.path.join(orphan, "part-0.parquet"), "w").write("junk")
    merged = _merge1(
        spark, state, cms_rows(ev.filter("event_id % 2 = 1"), "user_id"), 1,
        CMS,
    )
    names = sorted(
        e for e in os.listdir(state) if e.startswith("sketch-")
    )
    assert os.path.basename(orphan) not in names
    new_committed = json.load(open(os.path.join(state, "COMMIT.json")))[
        "sketch"
    ]
    assert names == [new_committed]
    assert committed != new_committed
    # and the merged state equals the batch-built sketch
    batch = {
        (r.seed, r.bucket): r.total
        for r in cms_rows(ev, "user_id").collect()
    }
    got = {(r.seed, r.bucket): r.total for r in merged.collect()}
    assert got == batch


def test_minmax_merge_replay_is_noop_by_algebra(spark, tmp_path):
    """min/max merge: the ledger skips a replayed id, but the
    ALGEBRA is what guarantees exactly-once — force-remerging the same
    batch past the ledger (fresh state dir, same batch twice under
    different ids) leaves the state byte-identical."""
    batch = spark.createDataFrame(
        [(1, "a", 3, None, 5), (2, "a", 0, 2, 9)],
        "user_id INT, arm STRING, enroll_week INT, conv_week INT,"
        " last_week INT",
    )
    s1 = str(tmp_path / "ledgered")
    m1 = _merge1(spark, s1, batch, 0, MINMAX)
    one = sorted(map(tuple, m1.collect()))
    # replayed id: ledger short-circuits
    m2 = _merge1(spark, s1, batch, 0, MINMAX)
    assert sorted(map(tuple, m2.collect())) == one
    # force past the ledger: same rows under a DIFFERENT batch id —
    # min/min/max absorb the duplicate delivery with no ledger help
    m3 = _merge1(spark, s1, batch, 1, MINMAX)
    assert sorted(map(tuple, m3.collect())) == one


def test_minmax_merge_merges_across_batches(spark, tmp_path):
    s = str(tmp_path / "st")
    b0 = spark.createDataFrame(
        [(1, "a", 3, None, 3)],
        "user_id INT, arm STRING, enroll_week INT, conv_week INT,"
        " last_week INT",
    )
    b1 = spark.createDataFrame(
        [(1, "a", 5, 5, 7)],
        "user_id INT, arm STRING, enroll_week INT, conv_week INT,"
        " last_week INT",
    )
    _merge1(spark, s, b0, 0, MINMAX)
    m = _merge1(spark, s, b1, 1, MINMAX)
    rows = m.collect()
    assert len(rows) == 1
    r = rows[0]
    # enrollment keeps the earliest week, conversion the earliest
    # non-null, last_week the latest
    assert (r.enroll_week, r.conv_week, r.last_week) == (3, 5, 7)


# --------------------------------------------------------------------------
# The merge core against an independent reference, one case per merge
# algebra: each case builds three per-batch increment frames, and a
# pure-Python dict fold of their rows is the reference state.
# --------------------------------------------------------------------------


def _sum_cms(spark):
    from datalakes_and_data_integration_spark.streaming.sketch_maintenance import (
        cms_rows,
    )

    ev = _events(spark)
    return CMS, [
        cms_rows(ev.filter(F.col("event_id") % 3 == i), "user_id")
        for i in range(3)
    ]


def _sum_ab(spark):
    from datalakes_and_data_integration_spark.plans._util import T
    from datalakes_and_data_integration_spark.plans.experiment import (
        _ab_per_user,
        _exp_start,
    )

    ev = T(spark, "/root/testdata/sf0.001", "events")
    start = _exp_start(ev)
    spec = dict(key_cols=["user_id", "arm"], aggs={"x": "sum", "y": "sum"})
    return spec, [
        _ab_per_user(ev.filter(F.col("event_id") % 3 == i), start)
        for i in range(3)
    ]


def _minmax(spark):
    schema = (
        "user_id INT, arm STRING, enroll_week INT, conv_week INT,"
        " last_week INT"
    )
    rows = [
        [(1, "a", 3, None, 5), (2, "a", 0, 2, 9), (3, "b", 4, None, 4)],
        [(1, "a", 1, 4, 7), (3, "b", 6, None, 6)],
        [(2, "a", 5, 1, 2), (4, "b", None, None, 8), (1, "a", 2, 3, 6)],
    ]
    return MINMAX, [spark.createDataFrame(r, schema) for r in rows]


def _max_hll(spark):
    from datalakes_and_data_integration_spark.plans.sketches import hll_regs

    ev = _events(spark)
    return HLL, [
        hll_regs(ev.filter(F.col("event_id") % 3 == i), "event_type")
        for i in range(3)
    ]


def _bit_or(spark):
    from datalakes_and_data_integration_spark.plans.sketches import (
        bitmap_word_rows,
    )

    ev = _events(spark)
    return BITMAP, [
        bitmap_word_rows(
            ev.filter(F.col("event_id") % 3 == i), "event_type", "user_id"
        )
        for i in range(3)
    ]


_ALGEBRAS = {
    "sum_cms": _sum_cms,
    "sum_ab": _sum_ab,
    "minmax": _minmax,
    "max_hll": _max_hll,
    "bit_or": _bit_or,
}

_PY_MERGE = {
    "sum": lambda a, b: a + b,
    "min": min,
    "max": max,
    "bit_or": lambda a, b: a | b,
}


def _python_fold(spec, batches):
    """Reference state: fold every batch's rows into a dict with the
    Python operator of each column's merge function (SQL aggregates
    skip NULLs, so a NULL never wins and an all-NULL column stays
    NULL)."""
    keys, aggs = spec["key_cols"], spec["aggs"]
    state: dict[tuple, dict] = {}
    for b in batches:
        for r in b.collect():
            cur = state.setdefault(tuple(r[k] for k in keys), {})
            for c, fn in aggs.items():
                old, new = cur.get(c), r[c]
                cur[c] = (
                    old if new is None
                    else new if old is None
                    else _PY_MERGE[fn](old, new)
                )
    return state


def _state(spec, df):
    keys, aggs = spec["key_cols"], spec["aggs"]
    return {
        tuple(r[k] for k in keys): {c: r[c] for c in aggs}
        for r in df.collect()
    }


def _labeled(batches):
    from functools import reduce

    from datalakes_and_data_integration_spark.streaming.sketch_maintenance import (
        BID,
    )

    return reduce(
        lambda a, b: a.unionByName(b),
        [b.withColumn(BID, F.lit(i)) for i, b in enumerate(batches)],
    )


def _commit(state):
    import json
    import os

    with open(os.path.join(state, "COMMIT.json")) as fh:
        return json.load(fh)



@pytest.mark.parametrize("algebra", sorted(_ALGEBRAS))
def test_merge_core_matches_python_fold(spark, tmp_path, algebra):
    """One transition over N labels, N one-label transitions and a
    pure-Python fold land on equal state values; replaying the applied
    ids is a no-op that stages nothing."""
    from datalakes_and_data_integration_spark.streaming.sketch_maintenance import (
        merge_state,
    )

    spec, batches = _ALGEBRAS[algebra](spark)
    ref = _python_fold(spec, batches)
    ids = list(range(len(batches)))

    one_state = str(tmp_path / "one")
    one = _state(
        spec, merge_state(spark, one_state, _labeled(batches), ids, **spec)
    )
    seq_state = str(tmp_path / "seq")
    for i, b in enumerate(batches):
        seq_df = _merge1(spark, seq_state, b, i, spec)
    assert one == _state(spec, seq_df) == ref

    before = _commit(one_state)
    assert before["applied"] == [str(i) for i in ids]
    replay = merge_state(spark, one_state, _labeled(batches), ids, **spec)
    assert _state(spec, replay) == ref
    assert _commit(one_state) == before


@pytest.mark.parametrize("algebra", sorted(_ALGEBRAS))
def test_merge_core_crash_before_commit_keeps_previous_state(
    spark, tmp_path, monkeypatch, algebra
):
    """A transition that dies after staging its dir but before the
    COMMIT.json flip leaves the previous (state, ledger) pair readable;
    the next call GCs the orphaned stage dir, and a retry lands on the
    reference state."""
    import os

    from datalakes_and_data_integration_spark.streaming import (
        sketch_maintenance as sm,
    )

    spec, batches = _ALGEBRAS[algebra](spark)
    labeled = _labeled(batches)
    state = str(tmp_path / "st")
    first = _state(spec, sm.merge_state(spark, state, labeled, [0, 1], **spec))
    committed = _commit(state)

    def crash(src, dst):
        raise OSError("killed before the commit flip")

    with monkeypatch.context() as m:
        m.setattr(sm.os, "replace", crash)
        with pytest.raises(OSError):
            sm.merge_state(spark, state, labeled, [0, 1, 2], **spec)
    staged = sorted(e for e in os.listdir(state) if e.startswith("sketch-"))
    assert len(staged) == 2 and committed["sketch"] in staged
    assert _commit(state) == committed
    prev = spark.read.parquet(os.path.join(state, committed["sketch"]))
    assert _state(spec, prev) == first

    # applied ids only: no new work, the orphan is GC'd, state unchanged
    again = sm.merge_state(spark, state, labeled, [0, 1], **spec)
    assert _state(spec, again) == first
    assert [e for e in os.listdir(state) if e.startswith("sketch-")] == [
        committed["sketch"]
    ]
    retry = sm.merge_state(spark, state, labeled, [0, 1, 2], **spec)
    assert _state(spec, retry) == _python_fold(spec, batches)
    assert [e for e in os.listdir(state) if e.startswith("sketch-")] == [
        _commit(state)["sketch"]
    ]


def test_parent_format_state_dir_still_merges(spark, tmp_path):
    """A state dir in the committed on-disk format — a sketch-* parquet
    dir named by COMMIT.json, written here as the per-batch form used
    to write it (the batch rows as-is, not re-aggregated) — loads and
    merges: the new batch is applied, the old id stays a no-op."""
    import json
    import os

    from datalakes_and_data_integration_spark.streaming.sketch_maintenance import (
        cms_rows,
    )

    ev = _events(spark)
    b0 = ev.filter(F.col("event_id") % 2 == 0)
    b1 = ev.filter(F.col("event_id") % 2 == 1)
    state = str(tmp_path / "cms")
    cms_rows(b0, "user_id").write.parquet(
        os.path.join(state, "sketch-000000-0")
    )
    with open(os.path.join(state, "COMMIT.json"), "w") as fh:
        json.dump({"applied": ["0"], "sketch": "sketch-000000-0"}, fh)

    merged = _merge1(spark, state, cms_rows(b1, "user_id"), 1, CMS)
    full = {
        (r.seed, r.bucket): r.total
        for r in cms_rows(ev, "user_id").collect()
    }
    assert {(r.seed, r.bucket): r.total for r in merged.collect()} == full
    assert _commit(state) == {"applied": ["0", "1"], "sketch": "sketch-000001-1"}
    replay = _merge1(spark, state, cms_rows(b0, "user_id"), 0, CMS)
    assert {(r.seed, r.bucket): r.total for r in replay.collect()} == full
