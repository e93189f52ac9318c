"""Round-9 second-session newcomer invariants beyond the oracle hash gate.

The ML evaluation trio (ROC/AUC, isotonic calibration, conformal
prediction) is pinned against from-scratch Python recomputes on the real
sf0.001 corpus — the trained model is shared across the three tests so
the suite pays for ONE GD run. The experiment pair (Poisson bootstrap
CI, sequential mSPRT) is pinned the same way: hashlib-recomputed
replicate weights and a direct formula recompute of the always-valid p.
"""

from __future__ import annotations

import hashlib
import math

import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def trained(spark):
    """One GD run on the sf0.001 80% split, shared by the ML trio."""
    from datalakes_and_data_integration_spark.plans.ml import (
        _fit,
        _split_pred_spark,
    )

    train_pred, test_pred = _split_pred_spark()
    model, _ = _fit(spark, SF, train_pred)
    return model, test_pred


def _test_scored(spark, trained):
    from datalakes_and_data_integration_spark.plans.ml import _scored

    model, test_pred = trained
    return _scored(
        spark, SF, test_pred, model
    ).collect()  # scale-ok: test fixture collect at sf0.001


def _midrank_auc(pairs):
    """Exact midrank AUC from (y, score) pairs, pure Python."""
    pairs = sorted(pairs, key=lambda p: p[1])
    n_pos = sum(y for y, _ in pairs)
    n_neg = len(pairs) - n_pos
    # doubled midranks per distinct score
    r2p = 0
    i = 0
    while i < len(pairs):
        j = i
        while j < len(pairs) and pairs[j][1] == pairs[i][1]:
            j += 1
        dm = 2 * i + (j - i) + 1  # 2*count_below + cnt + 1
        r2p += dm * sum(y for y, _ in pairs[i:j])
        i = j
    u2 = r2p - n_pos * (n_pos + 1)
    return n_pos, n_neg, u2, u2 / (2.0 * n_pos * n_neg)


def test_roc_auc_matches_python_recompute(spark, trained):
    from datalakes_and_data_integration_spark.plans.ml import logreg_roc_auc

    row = logreg_roc_auc(spark, SF).collect()[0]
    scored = _test_scored(spark, trained)
    n_pos, n_neg, u2, auc = _midrank_auc([(r.y, r.z) for r in scored])
    assert (row.n_pos, row.n_neg, row.u2_pos) == (n_pos, n_neg, u2)
    assert row.auc == pytest.approx(auc, abs=1e-6)
    # binned trapezoid leg: recompute the doubled numerator exactly from
    # the same 16-bin histogram (at sf0.001 the 38-row test split can
    # collapse into one bin — proximity to the exact AUC is a property
    # of the score spread, not of the estimator, so pin the arithmetic,
    # not a distance)
    bins: dict[int, list[int]] = {}
    for r in scored:
        zb = max(min(math.floor(1000.0 * r.z), 7), -8)
        pos, neg = bins.setdefault(zb, [0, 0])
        bins[zb][0] += r.y
        bins[zb][1] += 1 - r.y
    trap2 = 0
    pos_above = 0
    for zb in sorted(bins, reverse=True):
        bpos, bneg = bins[zb]
        trap2 += bneg * (2 * pos_above + bpos)
        pos_above += bpos
    assert row.trap2_num == trap2
    assert 0.0 <= row.auc_bin16 <= 1.0
    assert row.auc_bin16 == pytest.approx(
        trap2 / (2.0 * n_pos * n_neg), abs=1e-6
    )


def test_isotonic_fit_is_monotone_and_mean_preserving(spark):
    from datalakes_and_data_integration_spark.plans.ml import (
        logreg_isotonic_calibration,
    )

    rows = sorted(
        logreg_isotonic_calibration(spark, SF).collect(),
        key=lambda r: r.z_bin,
    )
    assert rows, "no bins"
    # monotone non-decreasing fitted curve
    for a, b in zip(rows, rows[1:]):
        assert a.iso_rate <= b.iso_rate + 1e-9
    # PAVA preserves the weighted mean (up to the round-6 grid)
    n_tot = sum(r.n for r in rows)
    p_tot = sum(r.n_pos for r in rows)
    fit_mass = sum(r.n * r.iso_rate for r in rows)
    assert fit_mass == pytest.approx(p_tot, abs=n_tot * 2e-6)
    # fitted values live in [0, 1] and match a from-scratch PAVA
    pava = _pava_reference([r.n for r in rows], [r.n_pos for r in rows])
    for r, v in zip(rows, pava):
        assert 0.0 <= r.iso_rate <= 1.0
        assert r.iso_rate == pytest.approx(v, abs=1e-6)


def _pava_reference(ns, ps):
    """Reference PAVA: pool adjacent violators, then expand block means."""
    blocks = []  # [n, p, span]
    for n, p in zip(ns, ps):
        blocks.append([n, p, 1])
        while len(blocks) > 1 and (
            blocks[-2][1] * blocks[-1][0] >= blocks[-1][1] * blocks[-2][0]
        ):
            n2, p2, s2 = blocks.pop()
            blocks[-1][0] += n2
            blocks[-1][1] += p2
            blocks[-1][2] += s2
    res = []
    for n, p, s in blocks:
        res.extend([p / n] * s)
    return res


def test_conformal_threshold_and_coverage_recompute(spark, trained):
    from datalakes_and_data_integration_spark.plans.ml import (
        _CONF_ALPHA_DEN,
        _CONF_ALPHA_NUM,
        _calib_pred_spark,
        _scored,
        conformal_prediction_audit,
    )

    row = conformal_prediction_audit(spark, SF).collect()[0]
    model, test_pred = trained
    calib = _scored(
        spark, SF, _calib_pred_spark(), model
    ).collect()  # scale-ok: test fixture collect at sf0.001
    scores = sorted((-r.z if r.y == 1 else r.z) for r in calib)
    n_cal = len(scores)
    q_idx = min(
        ((_CONF_ALPHA_DEN - _CONF_ALPHA_NUM) * (n_cal + 1)
         + _CONF_ALPHA_DEN - 1) // _CONF_ALPHA_DEN,
        n_cal,
    )
    q = scores[q_idx - 1]
    assert (row.n_cal, row.q_index) == (n_cal, q_idx)
    assert row.q_threshold == pytest.approx(q, abs=1e-6)
    test = _test_scored(spark, trained)
    covered = sum(1 for r in test if (-r.z if r.y == 1 else r.z) <= q)
    both = sum(1 for r in test if r.z <= q and -r.z <= q)
    empty = sum(1 for r in test if not (r.z <= q) and not (-r.z <= q))
    assert (row.n_test, row.n_covered) == (len(test), covered)
    assert (row.n_both, row.n_empty) == (both, empty)
    assert row.coverage == pytest.approx(covered / len(test), abs=1e-6)
    # the conformal guarantee is E[coverage] >= 1 - alpha over the
    # calibration draw; one 38-row test draw carries binomial noise
    # (observed 0.789 at this fixture), so the test pins the guarantee
    # with three-sigma slack: sigma = sqrt(0.9*0.1/38) ~ 0.049
    assert row.coverage >= 1.0 - 0.1 - 3.0 * math.sqrt(
        0.9 * 0.1 / row.n_test
    )


def _hash60_py(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_bootstrap_ci_matches_hashlib_recompute(spark):
    from datalakes_and_data_integration_spark.plans.experiment import (
        _ab_per_user,
        _BOOT_HI,
        _BOOT_LO,
        _BOOT_REPS,
        _BOOT_SEED,
        _BOOT_THRESH,
        _exp_start,
        ab_bootstrap_diff_ci,
    )
    from datalakes_and_data_integration_spark.plans._util import T

    row = ab_bootstrap_diff_ci(spark, SF).collect()[0]
    ev = T(spark, SF, "events")
    per_user = _ab_per_user(ev, _exp_start(ev)).collect()  # scale-ok: test fixture collect at sf0.001
    diffs = []
    for r in range(_BOOT_REPS):
        sums = {"control": 0.0, "treatment": 0.0}
        ns = {"control": 0, "treatment": 0}
        for u in per_user:
            x = _hash60_py(f"{_BOOT_SEED}|{r}#{u.user_id}")
            uval = x / 1152921504606846976.0
            wgt = 6
            for k, t in enumerate(_BOOT_THRESH):
                if uval < t:
                    wgt = k
                    break
            sums[u.arm] += wgt * float(u.y)
            ns[u.arm] += wgt
        if ns["control"] == 0 or ns["treatment"] == 0:
            diffs.append(0.0)
        else:
            diffs.append(
                sums["treatment"] / ns["treatment"]
                - sums["control"] / ns["control"]
            )
    diffs.sort()
    assert row.n_reps == _BOOT_REPS
    assert row.boot_ci_lo == pytest.approx(diffs[_BOOT_LO - 1], abs=1e-5)
    assert row.boot_ci_hi == pytest.approx(diffs[_BOOT_HI - 1], abs=1e-5)
    assert row.boot_ci_lo <= row.boot_ci_hi
    assert row.significant_95 == (
        row.boot_ci_lo > 0.0 or row.boot_ci_hi < 0.0
    )
    # point estimate: unweighted diff of per-user means
    mt = [float(u.y) for u in per_user if u.arm == "treatment"]
    mc = [float(u.y) for u in per_user if u.arm == "control"]
    assert row.diff_point == pytest.approx(
        sum(mt) / len(mt) - sum(mc) / len(mc), abs=1e-5
    )


def test_msprt_always_valid_p_is_running_min_and_formula(spark):
    from datalakes_and_data_integration_spark.plans.experiment import (
        ab_sequential_msprt,
    )

    rows = sorted(
        ab_sequential_msprt(spark, SF).collect(), key=lambda r: r.week
    )
    assert rows, "no weeks"
    tau2 = 0.01
    prev_p = 1.0
    prev = None
    for r in rows:
        # cumulative counts are monotone and converters <= enrolled
        if prev is not None:
            assert r.n_control >= prev.n_control
            assert r.n_treatment >= prev.n_treatment
            assert r.conv_control >= prev.conv_control
            assert r.conv_treatment >= prev.conv_treatment
        assert r.conv_control <= r.n_control
        assert r.conv_treatment <= r.n_treatment
        # formula recompute of the p-step
        nc, nt, cc, ct = (
            r.n_control,
            r.n_treatment,
            r.conv_control,
            r.conv_treatment,
        )
        if nc == 0 or nt == 0 or (cc + ct) in (0, nc + nt):
            p_step = 1.0
        else:
            phat = (cc + ct) / (nc + nt)
            v = phat * (1.0 - phat) * (1.0 / nc + 1.0 / nt)
            d = ct / nt - cc / nc
            lam = math.sqrt(v / (v + tau2)) * math.exp(
                d * d * tau2 / (2.0 * v * (v + tau2))
            )
            p_step = min(1.0, 1.0 / lam)
        assert r.p_week == pytest.approx(p_step, abs=1e-6)
        prev_p = min(prev_p, p_step)
        assert r.always_valid_p == pytest.approx(prev_p, abs=1e-6)
        assert r.reject_95 == (prev_p < 0.05) or abs(prev_p - 0.05) < 1e-9
        prev = r


def test_power_mde_matches_formula_recompute(spark):
    from datalakes_and_data_integration_spark.plans.experiment import (
        _ab_per_user,
        _exp_start,
        ab_power_mde_report,
    )
    from datalakes_and_data_integration_spark.plans._util import T

    row = ab_power_mde_report(spark, SF).collect()[0]
    ev = T(spark, SF, "events")
    pu = _ab_per_user(ev, _exp_start(ev)).collect()  # scale-ok: test fixture collect at sf0.001
    yc = [float(u.y) for u in pu if u.arm == "control"]
    yt = [float(u.y) for u in pu if u.arm == "treatment"]
    nc, nt = len(yc), len(yt)
    assert (row.n_control, row.n_treatment) == (nc, nt)
    sc, st = sum(yc), sum(yt)
    qc = sum(v * v for v in yc)
    qt = sum(v * v for v in yt)
    s2c = (qc - sc * sc / nc) / (nc - 1)
    s2t = (qt - st * st / nt) / (nt - 1)
    z = 1.959964 + 0.841621
    mde = z * math.sqrt(s2c / nc + s2t / nt)
    assert row.mde_abs == pytest.approx(mde, rel=1e-4)
    assert row.mde_rel == pytest.approx(mde / (sc / nc), rel=1e-4)
    s2p = (qc - sc * sc / nc + qt - st * st / nt) / (nc + nt - 2)
    delta = 0.05 * (sc / nc)
    assert row.n_per_arm_for_5pct_lift == math.ceil(
        2.0 * z * z * s2p / (delta * delta)
    )
    # MDE must exceed what the current enrollment resolves at this
    # variance: sanity that it is positive and scaled sensibly
    assert row.mde_abs > 0 and row.sd_pooled > 0


def test_item_item_cosine_matches_python_recompute(spark):
    from collections import defaultdict

    from datalakes_and_data_integration_spark.plans.relational import (
        _IICF_TOPK,
        item_item_cosine_topk,
    )
    from datalakes_and_data_integration_spark.plans._util import T

    rows = item_item_cosine_topk(spark, SF).collect()
    li = (
        T(spark, SF, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .collect()
    )  # scale-ok: test fixture collect at sf0.001
    baskets = defaultdict(set)
    n = defaultdict(int)
    for r in li:
        baskets[r.l_orderkey].add(r.l_partkey)
        n[r.l_partkey] += 1
    co = defaultdict(int)
    for items in baskets.values():
        s = sorted(items)
        for i, a in enumerate(s):
            for bb in s[i + 1 :]:
                co[(a, bb)] += 1
                co[(bb, a)] += 1
    expected = {}
    by_item = defaultdict(list)
    for (a, bb), c in co.items():
        by_item[a].append((-(c / math.sqrt(n[a] * n[bb])), bb, c))
    for a, lst in by_item.items():
        lst.sort()
        for rank, (negcos, bb, c) in enumerate(lst[:_IICF_TOPK], start=1):
            expected[(a, rank)] = (bb, c, -negcos)
    assert len(rows) == len(expected)
    for r in rows:
        nb, c, cos = expected[(r.item_a, r.rank)]
        assert (r.neighbor, r.co_orders) == (nb, c)
        assert r.cosine == pytest.approx(cos, abs=1e-6)
        assert 0.0 < r.cosine <= 1.0


def test_kfold_cv_out_of_fold_structure(spark):
    from datalakes_and_data_integration_spark.plans.ml import (
        _FOLDS,
        logreg_kfold_cv,
    )
    from datalakes_and_data_integration_spark.plans._util import T

    rows = logreg_kfold_cv(spark, SF).collect()
    assert {r.fold for r in rows} <= set(range(_FOLDS))
    # the per-fold confusion cells partition the corpus exactly
    vec_ids = [
        r.vec_id
        for r in T(spark, SF, "embeddings").select("vec_id").collect()
    ]  # scale-ok: test fixture collect at sf0.001
    assert sum(r.n for r in rows) == len(vec_ids)
    # fold sizes from the hashlib twin of the md5 bucket
    fold_n = {f: 0 for f in range(_FOLDS)}
    for v in vec_ids:
        fold_n[(_hash60_py(f"7|{v}") % 100) // 20] += 1
    got = {f: 0 for f in range(_FOLDS)}
    for r in rows:
        got[r.fold] += r.n
    assert got == fold_n
    # every fold trained: each fold's cells carry both classes' rows
    for f in range(_FOLDS):
        assert got[f] > 0


def test_segment_heterogeneity_q_matches_recompute(spark):
    from datalakes_and_data_integration_spark.plans.experiment import (
        ab_segment_heterogeneity,
    )

    rows = ab_segment_heterogeneity(spark, SF).collect()
    assert rows, "no segments"
    # Q / df / I^2 repeat identically on every row
    assert len({(r.q_stat, r.df, r.i_squared) for r in rows}) == 1
    inc = [r for r in rows if r.included]
    assert rows[0].df == max(len(inc) - 1, 0)
    # recompute Q from the published exact counts
    s0 = s1 = s2 = 0.0
    for r in inc:
        phat = (r.conv_control + r.conv_treatment) / (
            r.n_control + r.n_treatment
        )
        v = phat * (1 - phat) * (1 / r.n_control + 1 / r.n_treatment)
        d = (
            r.conv_treatment / r.n_treatment
            - r.conv_control / r.n_control
        )
        s0 += 1 / v
        s1 += d / v
        s2 += d * d / v
        # per-segment z matches its own counts
        assert r.z_segment == pytest.approx(d / math.sqrt(v), abs=1e-5)
    q = s2 - s1 * s1 / s0 if len(inc) >= 2 else 0.0
    assert rows[0].q_stat == pytest.approx(q, abs=1e-4)
    i2 = max(0.0, (q - (len(inc) - 1)) / q) if q > 0 and len(inc) >= 2 else 0.0
    assert rows[0].i_squared == pytest.approx(i2, abs=1e-4)
    # excluded segments read z = 0 and are outside the reduction
    for r in rows:
        if not r.included:
            assert r.z_segment == 0.0


def test_ratio_delta_method_matches_recompute(spark):
    from datalakes_and_data_integration_spark.plans.experiment import (
        _AB_PRE_DAYS,
        _arm_spark,
        _exp_start,
        ab_ratio_metric_delta_method,
    )
    from pyspark.sql import functions as F

    from datalakes_and_data_integration_spark.plans._util import T

    rows = {r.arm: r for r in ab_ratio_metric_delta_method(spark, SF).collect()}
    assert set(rows) == {"control", "treatment"}
    ev = T(spark, SF, "events")
    pu = (
        ev.crossJoin(_exp_start(ev))
        .groupBy(F.col("user_id"), _arm_spark().alias("arm"))
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("ts") >= F.col("exp_start"))
                        & (F.col("event_type") == "purchase"),
                        F.col("value").cast("decimal(18,6)"),
                    )
                ),
                F.lit(0),
            ).alias("num"),
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("ts") >= F.col("exp_start"))
                        & (F.col("event_type") == "purchase"),
                        F.lit(1),
                    )
                ),
                F.lit(0),
            ).alias("den"),
        )
        .collect()
    )  # scale-ok: test fixture collect at sf0.001
    for arm in ("control", "treatment"):
        us = [u for u in pu if u.arm == arm]
        n = len(us)
        snum = sum(float(u.num) for u in us)
        sden = sum(float(u.den) for u in us)
        qnn = sum(float(u.num) ** 2 for u in us)
        qnd = sum(float(u.num) * float(u.den) for u in us)
        qdd = sum(float(u.den) ** 2 for u in us)
        r = snum / sden
        var = (
            (qnn / n - (snum / n) ** 2)
            - 2 * r * (qnd / n - (snum / n) * (sden / n))
            + r * r * (qdd / n - (sden / n) ** 2)
        ) / ((sden / n) ** 2) / n
        se = math.sqrt(max(var, 0.0))
        got = rows[arm]
        assert got.n_users == n
        assert got.ratio == pytest.approx(r, rel=1e-6)
        assert got.ratio_se == pytest.approx(se, rel=1e-4)
        # naive mean-of-ratios is a DIFFERENT number (the bias on display)
        rats = [
            float(u.num) / float(u.den) for u in us if float(u.den) > 0
        ]
        assert got.naive_mean_ratio == pytest.approx(
            sum(rats) / len(rats), abs=1e-5
        )
    rc, rt = rows["control"], rows["treatment"]
    z = (rt.ratio - rc.ratio) / math.sqrt(
        rc.ratio_se**2 + rt.ratio_se**2
    )
    assert rc.z_ratio == pytest.approx(z, abs=2e-4)
    assert rc.z_ratio == rt.z_ratio


def test_interval_overlap_join_matches_recompute(spark):
    from collections import Counter

    from datalakes_and_data_integration_spark.plans.timeseries import (
        interval_overlap_join_sessions,
        sessionization,
    )
    from datalakes_and_data_integration_spark.plans._util import T

    rows = interval_overlap_join_sessions(spark, SF).collect()
    # session frame reconciles with the registered sessionization query
    sess = sessionization(spark, SF).collect()
    assert len(rows) == len(sess)
    assert Counter((r.user_id, r.session_start) for r in rows) == Counter(
        (s.user_id, s.session_start) for s in sess
    )
    # busy-hour recompute from raw events
    ev = T(spark, SF, "events").select("user_id", "ts").collect()  # scale-ok: test fixture collect at sf0.001
    hours = Counter(int(e.ts.timestamp() * 1000) // 3600000 for e in ev)
    total = sum(hours.values())
    k = (3 * total + 2 * len(hours) - 1) // (2 * len(hours))
    busy = {h for h, n in hours.items() if n >= k}
    # per-session covered busy hours from the session frame itself
    by_sess = {}
    for s in sess:
        h0 = int(s.session_start.timestamp() * 1000) // 3600000
        h1 = int(s.session_end.timestamp() * 1000) // 3600000
        by_sess[(s.user_id, s.session_start)] = sum(
            1 for h in range(h0, h1 + 1) if h in busy
        )
    for r in rows:
        want = by_sess[(r.user_id, r.session_start)]
        assert r.busy_hours == want
        assert r.touches_busy == (want > 0)
        assert r.hours_spanned >= 1


def test_kcenter_greedy_trajectory_matches_recompute(spark):
    from datalakes_and_data_integration_spark.plans.ml import (
        _KC_K,
        _KC_SEED,
        coreset_kcenter_selection,
    )
    from datalakes_and_data_integration_spark.plans._util import T

    rows = sorted(
        coreset_kcenter_selection(spark, SF).collect(),
        key=lambda r: r.step,
    )
    assert [r.step for r in rows] == list(range(1, _KC_K + 1))
    vecs = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in T(spark, SF, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    }  # scale-ok: test fixture collect at sf0.001

    def d2(v, q):
        # the exact fixed-point arithmetic: q is int nanos
        return sum(
            math.floor(
                (x - (qi / 1e9)) * (x - (qi / 1e9)) * 1e12
            )
            for x, qi in zip(v, q)
        )

    start = min(
        vecs, key=lambda vid: (_hash60_py(f"{_KC_SEED}|{vid}"), vid)
    )
    assert rows[0].vec_id == start and rows[0].sep_d2 == 0
    chosen_q = [[math.floor(x * 1e9) for x in vecs[start]]]
    dmin = {vid: d2(v, chosen_q[0]) for vid, v in vecs.items()}
    for step in range(2, _KC_K + 1):
        # tie-break is (dmin DESC, vec_id ASC): implement exactly
        best = max(dmin.values())
        far = min(vid for vid, dv in dmin.items() if dv == best)
        got = rows[step - 1]
        assert (got.vec_id, got.sep_d2) == (far, best)
        q = [math.floor(x * 1e9) for x in vecs[far]]
        for vid, v in vecs.items():
            dmin[vid] = min(dmin[vid], d2(v, q))
    assert rows[0].coverage_radius_d2 == max(dmin.values())
    assert len({r.coverage_radius_d2 for r in rows}) == 1


def test_bh_fdr_step_up_matches_recompute(spark):
    from datalakes_and_data_integration_spark.plans.experiment import (
        ab_segment_fdr_bh,
        ab_segment_heterogeneity,
    )

    rows = ab_segment_fdr_bh(spark, SF).collect()
    assert rows
    m = rows[0].n_tested
    inc = sorted(
        (r for r in rows if r.bh_rank > 0),
        key=lambda r: (r.p_value, r.segment),
    )
    assert len(inc) == m
    # p from the Zelen-Severo polynomial on the SAME z the
    # heterogeneity query publishes
    het = {r.segment: r for r in ab_segment_heterogeneity(spark, SF).collect()}
    for r in rows:
        assert r.z_segment == pytest.approx(
            het[r.segment].z_segment, abs=1e-6
        )
        if r.bh_rank > 0:
            z = abs(r.z_segment)
            t = 1.0 / (1.0 + 0.2316419 * z)
            poly = (
                (((1.330274429 * t - 1.821255978) * t + 1.781477937) * t
                 - 0.356563782) * t + 0.319381530
            ) * t
            p = min(
                1.0,
                2.0 * 0.3989422804014327 * math.exp(-0.5 * z * z) * poly,
            )
            assert r.p_value == pytest.approx(p, abs=2e-5)
    # the step-up rule recomputed: k_max = max rank with p <= (k/m) q
    k_max = 0
    for i, r in enumerate(inc, start=1):
        assert r.bh_rank == i
        if r.p_value <= i / m * 0.1 + 1e-9:
            k_max = i
    assert rows[0].n_rejected == k_max
    for r in rows:
        assert r.rejected == (0 < r.bh_rank <= k_max)
