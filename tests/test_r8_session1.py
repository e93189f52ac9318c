"""Round-8 first-session newcomers: change-data-feed build, blocked
entity resolution, k-anonymity generalization plan. Invariants beyond
the oracle hash gate (which proves cross-engine equality, not
semantics)."""

from __future__ import annotations

SF = "/root/testdata/sf0.001"


def test_cdf_emits_paired_update_images_and_no_deletes(spark):
    """The feed must contain NO delete rows (append-only log), every
    update_preimage must pair 1:1 with an update_postimage on the same
    key, inserts are keys absent before the cutoff, and no key appears
    with more than one change kind besides the update pair."""
    from datalakes_and_data_integration_spark.plans.temporal import (
        change_data_feed_build,
    )

    rows = change_data_feed_build(spark, SF).collect()
    assert rows
    by_type: dict[str, set] = {}
    for r in rows:
        by_type.setdefault(r.change_type, set()).add(r.user_id)
        assert r.commit_version == 2
    assert "delete" not in by_type
    pre = by_type.get("update_preimage", set())
    post = by_type.get("update_postimage", set())
    assert pre == post
    ins = by_type.get("insert", set())
    assert not (ins & pre)
    # update rows must actually change the attribute
    attrs: dict[tuple, list] = {}
    for r in rows:
        if r.change_type.startswith("update"):
            attrs.setdefault(r.user_id, {})[r.change_type] = r.attr
    for uid, m in attrs.items():
        assert m["update_preimage"] != m["update_postimage"], uid


def test_cdf_replays_onto_old_state_to_produce_new_state(spark):
    """Applying the feed to the cutoff state must reproduce the current
    state exactly — the property that makes a CDF consumable."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from datalakes_and_data_integration_spark.plans.temporal import (
        _DIFF_CUT_DAYS,
        change_data_feed_build,
        scd2_parse,
    )

    parsed = scd2_parse(spark, SF)
    cut = parsed.agg(
        (F.min("ts") + F.expr(f"INTERVAL {_DIFF_CUT_DAYS} DAYS")).alias("c")
    ).collect()[0].c

    def state(df):
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        return {
            r.user_id: r.attr
            for r in df.withColumn("rn", F.row_number().over(w))
            .filter("rn = 1")
            .collect()
        }

    old = state(parsed.filter(F.col("ts") < F.lit(cut)))
    new = state(parsed)
    feed = change_data_feed_build(spark, SF).collect()
    replayed = dict(old)
    for r in feed:
        if r.change_type in ("insert", "update_postimage"):
            replayed[r.user_id] = r.attr
        elif r.change_type == "delete":
            replayed.pop(r.user_id, None)
    assert replayed == new


def test_er_links_are_dominantly_correct_and_classes_consistent(spark):
    """Every dirty record gets exactly one output row; scores match the
    class thresholds; and ground-truth precision of the 'match' class
    must be high (the perturbation is mild by construction)."""
    from datalakes_and_data_integration_spark.plans.relational import (
        _ER_MATCH,
        _ER_PCT,
        _ER_POSSIBLE,
        entity_resolution_blocked,
    )
    from datalakes_and_data_integration_spark.plans._util import T

    rows = entity_resolution_blocked(spark, SF).collect()
    n_cust = T(spark, SF, "customer").count()
    assert len(set(r.rec_id for r in rows)) == len(rows)
    assert 0 < len(rows) < n_cust  # a strict sample of masters
    matches = [r for r in rows if r.match_class == "match"]
    assert matches
    for r in rows:
        if r.match_class == "match":
            assert r.score >= _ER_MATCH
        elif r.match_class == "possible":
            assert _ER_POSSIBLE <= r.score < _ER_MATCH
        elif r.match_class == "non_match":
            assert r.score < _ER_POSSIBLE
        else:
            assert r.match_class == "no_candidate"
    precision = sum(1 for r in matches if r.correct) / len(matches)
    assert precision >= 0.95, precision


def test_kgen_ladder_is_monotone_and_chooses_minimal_level(spark):
    """Class counts must not increase and min class size must not
    decrease up the ladder (each level only merges classes); exactly
    one level is chosen iff any satisfies k, and it is the smallest
    satisfying one; level-0 totals must reconcile with the table."""
    from datalakes_and_data_integration_spark.plans._util import T
    from datalakes_and_data_integration_spark.plans.quality import (
        k_anon_generalization_plan,
    )

    rows = sorted(
        k_anon_generalization_plan(spark, SF).collect(),
        key=lambda r: r.level,
    )
    assert [r.level for r in rows] == [0, 1, 2, 3, 4]
    for a, b in zip(rows, rows[1:]):
        assert b.n_classes <= a.n_classes
        assert b.min_class_size >= a.min_class_size
    for r in rows:
        assert r.satisfies_k == (r.rows_at_risk == 0)
        assert 0 <= r.classes_at_risk <= r.n_classes
    sat = [r.level for r in rows if r.satisfies_k]
    chosen = [r.level for r in rows if r.chosen]
    assert chosen == ([min(sat)] if sat else [])
    assert sat, "the fully generalized tail of the ladder should reach k"


def test_srm_audit_reconciles_with_direct_recount(spark):
    """Arms must partition the user universe, the chi-square must equal
    diff^2/total recomputed from the arm sizes, the alarm must equal
    the critical-value comparison, and conversion permille must be the
    integer division of the recounted converters."""
    from datalakes_and_data_integration_spark.plans._util import T
    from datalakes_and_data_integration_spark.plans.experiment import (
        ab_assignment_srm_audit,
    )

    rows = {r.arm: r for r in ab_assignment_srm_audit(spark, SF).collect()}
    assert set(rows) == {"control", "treatment"}
    n_users = (
        T(spark, SF, "events").select("user_id").distinct().count()
    )
    total = rows["control"].n_users + rows["treatment"].n_users
    assert total == n_users
    diff = rows["control"].n_users - rows["treatment"].n_users
    chi2 = round(diff * diff / total, 6)
    for r in rows.values():
        assert r.srm_chi2 == chi2
        assert r.srm_alarm == (diff * diff / total > 3.841459)
        assert 0 <= r.n_converters <= r.n_users
        assert r.conversion_permille == (1000 * r.n_converters) // r.n_users
        assert 0 < r.conversion_permille < 1000  # non-degenerate metric


def test_cuped_moment_algebra_and_pooled_theta(spark):
    """theta must be identical on both arm rows (fit pooled, never on
    the split — the unbiasedness condition), the adjusted variance must
    equal the closed form recomputed from an independent per-user
    moment pass, and the raw mean must match a direct recount."""
    from pyspark.sql import functions as F

    from datalakes_and_data_integration_spark.plans._util import T
    from datalakes_and_data_integration_spark.plans.experiment import (
        _AB_PRE_DAYS,
        _arm_spark,
        ab_metric_cuped_adjustment,
    )

    rows = {
        r.arm: r for r in ab_metric_cuped_adjustment(spark, SF).collect()
    }
    assert set(rows) == {"control", "treatment"}
    assert rows["control"].theta == rows["treatment"].theta

    ev = T(spark, SF, "events")
    start = ev.agg(
        (F.min("ts") + F.expr(f"INTERVAL {_AB_PRE_DAYS} DAYS")).alias("s")
    ).collect()[0].s
    pu = (
        ev.groupBy("user_id", _arm_spark().alias("arm"))
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("ts") < F.lit(start), F.col("value"))),
                F.lit(0.0),
            ).alias("x"),
            F.coalesce(
                F.sum(F.when(F.col("ts") >= F.lit(start), F.col("value"))),
                F.lit(0.0),
            ).alias("y"),
        )
        .collect()
    )
    import statistics

    xs = [r.x for r in pu]
    ys = [r.y for r in pu]
    n = len(xs)
    mx, my = sum(xs) / n, sum(ys) / n
    var_x = sum(x * x for x in xs) / n - mx * mx
    cov = sum(x * y for x, y in zip(xs, ys)) / n - mx * my
    theta = cov / var_x if var_x else 0.0
    assert abs(rows["control"].theta - round(theta, 6)) < 1e-4
    for arm in ("control", "treatment"):
        sub = [(r.x, r.y) for r in pu if r.arm == arm]
        na = len(sub)
        assert na == rows[arm].n_users
        mya = sum(y for _, y in sub) / na
        assert abs(rows[arm].mean_y - mya) < 1e-3
        vy = sum(y * y for _, y in sub) / na - mya * mya
        mxa = sum(x for x, _ in sub) / na
        vx = sum(x * x for x, _ in sub) / na - mxa * mxa
        cv = sum(x * y for x, y in sub) / na - mxa * mya
        v_adj = vy - 2 * theta * cv + theta * theta * vx
        assert abs(rows[arm].var_y - vy) < max(1e-3, abs(vy) * 1e-6)
        assert abs(rows[arm].var_y_cuped - v_adj) < max(
            1e-3, abs(v_adj) * 1e-6
        )


def test_streaming_ab_state_replay_is_ledger_noop(spark, tmp_path):
    """The per-user metric state sum-merges behind the shared ledger:
    replaying batch 0 must leave the state untouched, and the
    maintained readout must equal the batch CUPED query exactly."""
    from pyspark.sql import functions as F

    from datalakes_and_data_integration_spark.plans._util import T
    from datalakes_and_data_integration_spark.plans.experiment import (
        _ab_per_user,
        _cuped_readout,
        _exp_start,
        ab_metric_cuped_adjustment,
    )
    from datalakes_and_data_integration_spark.streaming.sketch_maintenance import (
        BID,
        merge_state,
    )

    ev = T(spark, SF, "events")
    exp_start = _exp_start(ev)
    state = str(tmp_path / "abstate")
    b1 = ev.filter(F.col("event_id") % 2 == 0)
    b2 = ev.filter(F.col("event_id") % 2 == 1)
    for i, b in enumerate((b1, b2)):
        merged = merge_state(
            spark, state, _ab_per_user(b, exp_start).withColumn(BID, F.lit(i)),
            [i], key_cols=["user_id", "arm"], aggs={"x": "sum", "y": "sum"},
        )
    before = sorted(map(tuple, merged.collect()))
    replay = merge_state(
        spark, state, _ab_per_user(b1, exp_start).withColumn(BID, F.lit(0)),
        [0], key_cols=["user_id", "arm"], aggs={"x": "sum", "y": "sum"},
    )
    assert sorted(map(tuple, replay.collect())) == before

    per_user = replay.select(
        "user_id", "arm",
        F.col("x").cast("decimal(18,6)").alias("x"),
        F.col("y").cast("decimal(18,6)").alias("y"),
    )
    maintained = sorted(map(tuple, _cuped_readout(per_user).collect()))
    batch = sorted(
        map(tuple, ab_metric_cuped_adjustment(spark, SF).collect())
    )
    assert maintained == batch
