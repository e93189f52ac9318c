"""Round-9 third-session newcomer invariants beyond the oracle hash gate.

One-way ANOVA is pinned against a from-scratch Python recompute (exact
Decimal per-user sums, float F/eta-squared) on the real sf0.001 corpus;
closed-form OLS is pinned against numpy's lstsq on the same rows, and
its singular-case guard is pinned on a fixture whose design matrix is
exactly rank-deficient (constant regressor duplicates the intercept).
"""

from __future__ import annotations

import os

import duckdb
import pytest

SF = "/root/testdata/sf0.001"


def test_anova_matches_direct_python_recompute(spark):
    """F, dfs, eta^2 and group means must equal a from-scratch Python
    one-way ANOVA on the same per-user metric / segment frame."""
    from pyspark.sql import functions as F

    from datalakes_and_data_integration_spark.plans._util import T
    from datalakes_and_data_integration_spark.plans.experiment import (
        _ab_per_user_y,
        _exp_start,
        ab_anova_oneway,
    )

    got = {r.segment: r for r in ab_anova_oneway(spark, SF).collect()}

    ev = T(spark, SF, "events")
    per_user = _ab_per_user_y(ev, _exp_start(ev))
    c = T(spark, SF, "customer").select("c_custkey", "c_nationkey")
    n = T(spark, SF, "nation").select("n_nationkey", "n_name")
    rows = (
        per_user.join(c, per_user.user_id == c.c_custkey, "left")
        .join(n, c.c_nationkey == n.n_nationkey, "left")
        .select(
            F.coalesce(F.col("n_name"), F.lit("unknown")).alias("segment"),
            F.col("y").cast("string"),
        )
        .collect()
    )
    from collections import defaultdict
    from decimal import Decimal

    groups: dict[str, list[Decimal]] = defaultdict(list)
    for r in rows:
        groups[r.segment].append(Decimal(r.y))
    assert set(groups) == set(got)

    nn = sum(len(v) for v in groups.values())
    k = len(groups)
    s_all = float(sum(sum(v) for v in groups.values()))
    ss_all = float(sum(sum(x * x for x in v) for v in groups.values()))
    ssb_raw = sum(
        float(sum(v)) ** 2 / len(v) for v in groups.values()
    )
    ssb = ssb_raw - s_all * s_all / nn
    ssw = ss_all - ssb_raw
    f_stat = (ssb / (k - 1)) / (ssw / (nn - k))
    eta = ssb / (ss_all - s_all * s_all / nn)

    any_row = next(iter(got.values()))
    assert any_row.df_between == k - 1
    assert any_row.df_within == nn - k
    assert any_row.f_stat == pytest.approx(f_stat, rel=1e-6)
    assert any_row.eta_squared == pytest.approx(eta, rel=1e-6)
    # scalars are row-constant; per-segment means match the groups
    for seg, r in got.items():
        assert r.n_users == len(groups[seg])
        mean = float(sum(groups[seg])) / len(groups[seg])
        assert r.mean_y == pytest.approx(mean, abs=1.5e-6)
        assert r.f_stat == any_row.f_stat
        assert r.eta_squared == any_row.eta_squared
    # the omnibus statistic is non-degenerate on the real corpus
    assert any_row.f_stat > 0.0
    assert 0.0 <= any_row.eta_squared < 1.0


def test_ols_matches_numpy_lstsq(spark):
    """Betas and R^2 must equal numpy's least squares on the same
    (quantity, discount) -> extendedprice rows."""
    import numpy as np

    from datalakes_and_data_integration_spark.plans._util import T
    from datalakes_and_data_integration_spark.plans.ml import (
        ols_two_factor_regression,
    )

    got = ols_two_factor_regression(spark, SF).collect()[0]
    rows = (
        T(spark, SF, "lineitem")
        .select("l_quantity", "l_discount", "l_extendedprice")
        .collect()
    )
    x = np.array(
        [[1.0, r.l_quantity, r.l_discount] for r in rows], dtype=float
    )
    y = np.array([r.l_extendedprice for r in rows], dtype=float)
    beta, *_ = np.linalg.lstsq(x, y, rcond=None)
    resid = y - x @ beta
    sse = float(resid @ resid)
    sst = float(((y - y.mean()) ** 2).sum())
    assert got.n_rows == len(rows)
    assert got.beta0 == pytest.approx(beta[0], abs=1e-4)
    assert got.beta_qty == pytest.approx(beta[1], abs=1e-4)
    assert got.beta_disc == pytest.approx(beta[2], abs=1e-3)
    assert got.r_squared == pytest.approx(1.0 - sse / sst, abs=1e-6)
    assert got.rmse == pytest.approx(
        (sse / len(rows)) ** 0.5, rel=1e-4
    )
    # honest-readout check: the synthetic corpus draws price independent
    # of (quantity, discount), so the fit must be near-null, not spurious
    assert 0.0 <= got.r_squared < 0.01


def test_ols_singular_design_degrades_to_zeros(spark, tmp_path):
    """Constant discount makes column 3 a multiple of the intercept
    column: X'X is exactly singular (det = 0 in double because every
    moment is an exact small integer times an exact power of two) and
    the guard must publish zeros instead of dividing."""
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (
          SELECT (1 + i % 8)::DOUBLE AS l_quantity,
                 0.25::DOUBLE AS l_discount,
                 ((1 + i % 8) * 3)::DOUBLE AS l_extendedprice
          FROM range(16) t(i)
        ) TO '{tmp_path}/lineitem.parquet' (FORMAT PARQUET)
        """
    )
    con.close()
    from datalakes_and_data_integration_spark.plans.ml import (
        ols_two_factor_regression,
    )

    got = ols_two_factor_regression(spark, str(tmp_path)).collect()[0]
    assert got.n_rows == 16
    assert got.beta0 == 0.0
    assert got.beta_qty == 0.0
    assert got.beta_disc == 0.0
    assert got.r_squared == 0.0
    assert got.rmse == 0.0
    # and the oracle's guard agrees on the same fixture
    from datalakes_and_data_integration_spark.plans.ml import _ols_oracle

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{os.path.join(tmp_path, 'lineitem.parquet')}')"
    )
    want = con.execute(_ols_oracle()).fetchone()
    con.close()
    assert want == (16, 0.0, 0.0, 0.0, 0.0, 0.0)


def test_label_propagation_matches_python_recompute(spark):
    """Final labels must equal a from-scratch synchronous LPA (count
    DESC, label ASC tie-break) over the same simhash pair list."""
    from collections import Counter, defaultdict

    from datalakes_and_data_integration_spark.plans.dedup import (
        dedup_simhash_pairs,
    )
    from datalakes_and_data_integration_spark.plans.graph import (
        _LPA_ROUNDS,
        label_propagation_communities,
    )
    from datalakes_and_data_integration_spark.plans._util import T

    got = {
        r.doc_id: (r.community, r.community_size)
        for r in label_propagation_communities(spark, SF).collect()
    }
    pairs = [
        (r.doc_a, r.doc_b)
        for r in dedup_simhash_pairs(spark, SF)
        .select("doc_a", "doc_b")
        .collect()
    ]
    nodes = [
        r.doc_id
        for r in T(spark, SF, "documents").select("doc_id").collect()
    ]
    adj = defaultdict(list)
    for a, b in pairs:
        adj[a].append(b)
        adj[b].append(a)
    lab = {d: d for d in nodes}
    for _ in range(_LPA_ROUNDS):
        nxt = {}
        for d in nodes:
            if not adj[d]:
                nxt[d] = lab[d]
                continue
            votes = Counter(lab[x] for x in adj[d])
            # (count DESC, label ASC)
            nxt[d] = min(votes, key=lambda v: (-votes[v], v))
        lab = nxt
    sizes = Counter(lab.values())
    assert set(got) == set(nodes)
    for d in nodes:
        assert got[d] == (lab[d], sizes[lab[d]]), d
    # community structure is non-trivial on the real corpus: at least
    # one multi-node community and more communities than CC would find
    # if everything merged
    assert max(sizes.values()) >= 2
    assert len(sizes) > 1


def test_quantile_state_batching_invariant(spark, tmp_path):
    """Histogram state is purely additive: weekly batching, single-batch
    build, and a replayed batch id must all land on the identical
    readout (the maintained == batch-built claim, plus the ledger
    no-op, at the readout level)."""
    from pyspark.sql import functions as F

    from datalakes_and_data_integration_spark.plans._util import T
    from datalakes_and_data_integration_spark.plans.streaming_extra import (
        _SQM_BUCKET,
        _sqm_readout,
        _weekly_bounds,
    )
    from datalakes_and_data_integration_spark.streaming.sketch_maintenance import (
        BID,
        merge_state,
    )

    ev = T(spark, SF, "events").select("value", "ts")

    def hist_batch(df):
        return (
            df.filter(F.col("value").isNotNull())
            .groupBy(F.expr(_SQM_BUCKET).alias("b"))
            .agg(F.count("*").cast("long").alias("cnt"))
        )

    weekly_state = str(tmp_path / "weekly")
    hist = None
    weeks = _weekly_bounds(ev)
    assert len(weeks) >= 3  # the fixture really spans multiple weeks
    for i, (lo, hi) in enumerate(zip(weeks, weeks[1:])):
        hist = merge_state(
            spark,
            weekly_state,
            hist_batch(
                ev.filter((F.col("ts") >= lo) & (F.col("ts") < hi))
            ).withColumn(BID, F.lit(i)),
            batch_ids=[i],
            key_cols=["b"],
            aggs={"cnt": "sum"},
        )
    weekly = {
        r.q: (r.n, r.est_value)
        for r in _sqm_readout(spark, hist).collect()
    }

    single_state = str(tmp_path / "single")
    single_hist = merge_state(
        spark,
        single_state,
        hist_batch(ev).withColumn(BID, F.lit(0)),
        batch_ids=[0],
        key_cols=["b"],
        aggs={"cnt": "sum"},
    )
    single = {
        r.q: (r.n, r.est_value)
        for r in _sqm_readout(spark, single_hist).collect()
    }
    assert weekly == single and set(weekly) == {0.5, 0.9, 0.99}

    # replayed batch id: state (and readout) untouched
    replayed = merge_state(
        spark,
        weekly_state,
        # would double-count if the ledger failed
        hist_batch(ev).withColumn(BID, F.lit(0)),
        batch_ids=[0],
        key_cols=["b"],
        aggs={"cnt": "sum"},
    )
    after = {
        r.q: (r.n, r.est_value)
        for r in _sqm_readout(spark, replayed).collect()
    }
    assert after == weekly
    # estimates bracket sanity: monotone in q
    assert weekly[0.5][1] <= weekly[0.9][1] <= weekly[0.99][1]


def test_er_sweep_matches_python_recompute(spark):
    """Every threshold row must equal a from-scratch sweep over the ER
    output's (score, correct) pairs, and the curve must be monotone the
    way a decision curve is (links shrink, precision typically rises)."""
    from datalakes_and_data_integration_spark.plans.relational import (
        _ER_SWEEP_TS,
        entity_resolution_blocked,
        er_quality_threshold_sweep,
    )

    got = {
        r.threshold: r
        for r in er_quality_threshold_sweep(spark, SF).collect()
    }
    er = entity_resolution_blocked(spark, SF).collect()
    n_true = len(er)
    assert set(got) == set(_ER_SWEEP_TS)
    prev_links = None
    for t in sorted(_ER_SWEEP_TS):
        linked = [
            r
            for r in er
            if r.match_class != "no_candidate" and r.score >= t
        ]
        tp = sum(1 for r in linked if r.correct)
        r = got[t]
        assert (r.n_links, r.tp, r.fp, r.fn) == (
            len(linked),
            tp,
            len(linked) - tp,
            n_true - tp,
        ), t
        p = tp / len(linked) if linked else 0.0
        rc = tp / n_true if n_true else 0.0
        f1 = 2 * p * rc / (p + rc) if p + rc else 0.0
        assert r.precision == pytest.approx(p, abs=1.5e-6)
        assert r.recall == pytest.approx(rc, abs=1.5e-6)
        assert r.f1 == pytest.approx(f1, abs=1.5e-6)
        if prev_links is not None:
            assert r.n_links <= prev_links  # higher cut -> fewer links
        prev_links = r.n_links
    # the shipped match threshold must sit on the curve with high precision
    assert got[55].precision >= 0.95
    assert got[55].n_links > 0


def test_naive_bayes_matches_python_recompute(spark):
    """The confusion matrix must equal a from-scratch Python multinomial
    NB (Laplace smoothing, same md5 split, same tokenizer, lang-asc
    tie-break) computed with exact Fractions for the log-score ordering
    stand-in (compare products, not float logs)."""
    import hashlib
    from collections import Counter, defaultdict
    from fractions import Fraction

    from pyspark.sql import functions as F

    from datalakes_and_data_integration_spark.plans._util import T
    from datalakes_and_data_integration_spark.plans.curation4 import (
        _NB_SEED,
        naive_bayes_classifier_eval,
    )
    from datalakes_and_data_integration_spark.functions.text import tokens

    got = {
        (r.lang_true, r.lang_pred): r.n
        for r in naive_bayes_classifier_eval(spark, SF).collect()
    }
    rows = (
        T(spark, SF, "documents")
        .select("doc_id", "lang", tokens("text").alias("toks"))
        .collect()
    )

    def bucket(doc_id: int) -> int:
        h = hashlib.md5(f"{_NB_SEED}|{doc_id}".encode()).hexdigest()
        return int(h[:15], 16) % 100

    train = [r for r in rows if bucket(r.doc_id) < 80]
    test = [r for r in rows if bucket(r.doc_id) >= 90]
    counts: dict[str, Counter] = defaultdict(Counter)
    priors: Counter = Counter()
    for r in train:
        priors[r.lang] += 1
        counts[r.lang].update(r.toks)
    vocab = {t for c in counts.values() for t in c}
    v = len(vocab)
    n_train = sum(priors.values())
    t_lang = {g: sum(c.values()) for g, c in counts.items()}
    want: Counter = Counter()
    for r in test:
        # score as an exact rational product: prior * prod (c+1)/(T+V)
        best = None
        for g in sorted(priors):
            s = Fraction(priors[g], n_train)
            denom = Fraction(1, t_lang[g] + v)
            for tok in r.toks:
                s *= Fraction(counts[g][tok] + 1) * denom
            if best is None or s > best[0]:
                best = (s, g)
        want[(r.lang, best[1])] += 1
    assert got == dict(want)
    # HONEST READOUT: this synthetic corpus draws tokens independently
    # of lang (inspected: every lang shares one vocabulary), so there
    # is no lexical signal and accuracy MUST sit near the majority-
    # prior baseline — a high accuracy here would mean the split leaks.
    # The correctness claim is the exact-matrix equality above; this
    # pin just keeps the no-signal property visible.
    correct = sum(n for (t, p), n in got.items() if t == p)
    majority = max(priors.values()) / n_train
    assert correct / sum(got.values()) <= majority + 0.25
    assert len({t for (t, _p) in got}) >= 3  # matrix is non-degenerate


def test_pmi_matches_python_recompute(spark):
    """The top-20 collocations must equal a from-scratch Python PMI
    (exact Fraction ratios for the ordering, float ln for display)."""
    import math
    from collections import Counter
    from fractions import Fraction

    from datalakes_and_data_integration_spark.plans._util import T
    from datalakes_and_data_integration_spark.plans.curation8 import (
        _PMI_MIN,
        _PMI_TOPK,
        token_pmi_collocations,
    )
    from datalakes_and_data_integration_spark.functions.text import tokens

    got = token_pmi_collocations(spark, SF).collect()
    rows = (
        T(spark, SF, "documents").select(tokens("text").alias("t")).collect()
    )
    uni: Counter = Counter()
    big: Counter = Counter()
    for r in rows:
        uni.update(r.t)
        big.update(zip(r.t, r.t[1:]))
    n = sum(big.values())
    scored = [
        (Fraction(c * n, uni[a] * uni[b]), a, b, c)
        for (a, b), c in big.items()
        if c >= _PMI_MIN
    ]
    scored.sort(key=lambda x: (-x[0], x[1], x[2]))
    want = scored[:_PMI_TOPK]
    assert len(got) == len(want) == _PMI_TOPK
    for g, (ratio, a, b, c) in zip(got, want):
        assert (g.tok_a, g.tok_b, g.n_ab) == (a, b, c)
        assert g.pmi == pytest.approx(math.log(float(ratio)), abs=1.5e-6)
    # collocations are real on this corpus: top pair beats independence
    assert got[0].pmi > 0.0


def test_encoding_audit_matches_python_recompute(spark):
    """Run counts, distincts and ratios must equal a from-scratch
    Python recompute under the same total within-order ordering."""
    from collections import defaultdict

    from datalakes_and_data_integration_spark.plans._util import T
    from datalakes_and_data_integration_spark.plans.maintenance import (
        _ENC_COLS,
        encoding_efficiency_audit,
    )

    got = {
        r.column_name: r
        for r in encoding_efficiency_audit(spark, SF).collect()
    }
    rows = (
        T(spark, SF, "lineitem")
        .select("l_orderkey", "l_linenumber", *_ENC_COLS)
        .collect()
    )
    by_order = defaultdict(list)
    for r in rows:
        by_order[r.l_orderkey].append(r)
    n = len(rows)
    for c in _ENC_COLS:
        runs = 0
        vals = set()
        for ok, grp in by_order.items():
            grp = sorted(
                grp,
                key=lambda r: (
                    r.l_linenumber,
                    *[getattr(r, x) for x in _ENC_COLS],
                ),
            )
            prev = object()
            for r in grp:
                v = getattr(r, c)
                vals.add(v)
                if v != prev:
                    runs += 1
                prev = v
        g = got[c]
        assert (g.n_rows, g.n_distinct, g.n_runs) == (n, len(vals), runs), c
        assert g.avg_run_len == pytest.approx(n / runs, abs=1.5e-6)
        assert g.distinct_ratio == pytest.approx(
            len(vals) / n, abs=1.5e-6
        )
        assert g.resort_gain_bound == pytest.approx(
            runs / len(vals), abs=1.5e-6
        )
    # the advisor orders sensibly: low-cardinality flag columns carry
    # far longer potential runs than the near-unique partkey
    assert got["l_returnflag"].n_distinct < 10
    assert got["l_partkey"].resort_gain_bound < got[
        "l_returnflag"
    ].resort_gain_bound


def test_mann_kendall_matches_python_recompute(spark):
    """S, tie-corrected variance, z, trend call and Sen slope must
    equal a from-scratch Python Mann-Kendall on the same daily means."""
    import math
    from collections import Counter

    from pyspark.sql import functions as F

    from datalakes_and_data_integration_spark.plans._util import T
    from datalakes_and_data_integration_spark.plans.timeseries import (
        mann_kendall_theil_sen,
    )

    got = mann_kendall_theil_sen(spark, SF).collect()[0]
    daily = (
        T(spark, SF, "events")
        .filter(F.col("value").isNotNull())
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            (
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                / F.count("*")
            ).alias("v")
        )
        .orderBy("day")
        .collect()
    )
    days = [(r.day.toordinal(), r.v) for r in daily]
    n = len(days)
    s = 0
    slopes = []
    for i in range(n):
        for j in range(i + 1, n):
            d = days[j][1] - days[i][1]
            s += (d > 0) - (d < 0)
            slopes.append(d / (days[j][0] - days[i][0]))
    ties = Counter(v for _, v in days)
    tie_term = sum(t * (t - 1) * (2 * t + 5) for t in ties.values() if t > 1)
    var_s = (n * (n - 1) * (2 * n + 5) - tie_term) / 18.0
    z = (
        0.0
        if s == 0 or var_s <= 0
        else (s - 1) / math.sqrt(var_s)
        if s > 0
        else (s + 1) / math.sqrt(var_s)
    )
    slopes.sort()
    m = len(slopes)
    sen = (slopes[(m + 1) // 2 - 1] + slopes[(m + 2) // 2 - 1]) / 2.0
    assert got.n_days == n
    assert got.s_stat == s
    assert got.var_s == pytest.approx(var_s, abs=1.5e-6)
    assert got.z_score == pytest.approx(z, abs=1.5e-6)
    want_trend = (
        "increasing"
        if z > 1.959964
        else "decreasing"
        if z < -1.959964
        else "no_trend"
    )
    assert got.trend == want_trend
    assert got.sen_slope == pytest.approx(sen, abs=1.5e-6)


def test_mutual_information_matches_python_recompute(spark):
    """MI, margin entropies and NMI must equal a from-scratch Python
    recompute on the same contingency table, and MI must respect its
    information-theoretic bounds 0 <= MI <= min(H_l, H_s)."""
    import math
    from collections import Counter

    from datalakes_and_data_integration_spark.plans._util import T
    from datalakes_and_data_integration_spark.plans.drift import (
        lang_source_mutual_information,
    )

    got = lang_source_mutual_information(spark, SF).collect()[0]
    rows = T(spark, SF, "documents").select("lang", "source").collect()
    cells = Counter((r.lang, r.source) for r in rows)
    rl = Counter(r.lang for r in rows)
    cs = Counter(r.source for r in rows)
    n = len(rows)
    mi = sum(
        (o / n) * math.log(o * n / (rl[l] * cs[s]))
        for (l, s), o in cells.items()
    )
    hl = -sum((m / n) * math.log(m / n) for m in rl.values())
    hs = -sum((m / n) * math.log(m / n) for m in cs.values())
    assert got.n_docs == n
    assert got.mi_nats == pytest.approx(mi, abs=1.5e-6)
    assert got.h_lang == pytest.approx(hl, abs=1.5e-6)
    assert got.h_source == pytest.approx(hs, abs=1.5e-6)
    assert got.nmi == pytest.approx(mi / math.sqrt(hl * hs), abs=1.5e-6)
    assert -1e-9 <= got.mi_nats <= min(got.h_lang, got.h_source) + 1e-9
    assert 0.0 <= got.nmi <= 1.0


def test_clustering_coefficient_matches_python_recompute(spark):
    """Per-node coefficients and global transitivity must equal a
    from-scratch Python recompute over the same pair list."""
    from collections import defaultdict

    from datalakes_and_data_integration_spark.plans.dedup import (
        dedup_minhash_lsh,
    )
    from datalakes_and_data_integration_spark.plans.graph import (
        graph_clustering_coefficient,
    )

    got = {
        r.node: r for r in graph_clustering_coefficient(spark, SF).collect()
    }
    pairs = [
        (r.doc_a, r.doc_b)
        for r in dedup_minhash_lsh(spark, SF)
        .select("doc_a", "doc_b")
        .collect()
    ]
    adj = defaultdict(set)
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    tri = defaultdict(int)
    tri_total = 0
    nodes = sorted(adj)
    for v in nodes:
        for u in adj[v]:
            if u <= v:
                continue
            for w in adj[v] & adj[u]:
                if w > u:
                    tri_total += 1
                    tri[v] += 1
                    tri[u] += 1
                    tri[w] += 1
    wedges = sum(len(adj[v]) * (len(adj[v]) - 1) // 2 for v in nodes)
    trans = 3 * tri_total / wedges if wedges else 0.0
    assert set(got) == set(nodes)
    for v in nodes:
        g = got[v]
        deg = len(adj[v])
        assert (g.degree, g.n_triangles) == (deg, tri[v]), v
        cc = 2 * tri[v] / (deg * (deg - 1)) if deg >= 2 else 0.0
        assert g.clustering_coeff == pytest.approx(cc, abs=1.5e-6)
        assert g.tri_total == tri_total and g.wedges == wedges
        assert g.transitivity == pytest.approx(trans, abs=1.5e-6)
    # the fixture's near-dup graph carries real triangle structure
    assert tri_total > 0


def test_logrank_matches_python_recompute(spark):
    """O1, E1, V and z must equal a from-scratch Python log-rank over
    the same per-user (arm, span, censored) frame."""
    import math

    from pyspark.sql import functions as F

    from datalakes_and_data_integration_spark.plans._util import T
    from datalakes_and_data_integration_spark.plans.experiment import (
        _arm_spark,
        ab_logrank_test,
    )
    from datalakes_and_data_integration_spark.plans.temporal import (
        _KM_CENSOR_DAYS,
        _SURV_DAYS,
    )

    got = ab_logrank_test(spark, SF).collect()[0]
    ev = T(spark, SF, "events")
    h = ev.agg(
        F.date_sub(F.max("ts").cast("date"), _KM_CENSOR_DAYS).alias("h")
    ).collect()[0].h
    life = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", _arm_spark().alias("arm"))
        .agg(
            F.datediff(
                F.max("ts").cast("date"), F.min("ts").cast("date")
            ).alias("span"),
            F.max("ts").cast("date").alias("last_day"),
        )
        .collect()
    )
    rows = [(r.arm, r.span, r.last_day > h) for r in life]
    o1 = e1 = v = 0.0
    for t in range(_SURV_DAYS):
        n1 = sum(1 for a, s, _c in rows if a == "treatment" and s >= t)
        nt = sum(1 for _a, s, _c in rows if s >= t)
        d1 = sum(
            1 for a, s, c in rows if a == "treatment" and s == t and not c
        )
        dt = sum(1 for _a, s, c in rows if s == t and not c)
        o1 += d1
        if nt > 0:
            e1 += dt * n1 / nt
        if nt > 1:
            v += dt * (n1 / nt) * (1 - n1 / nt) * (nt - dt) / (nt - 1)
    z = (o1 - e1) / math.sqrt(v) if v > 0 else 0.0
    assert got.n_control + got.n_treatment == len(rows)
    assert got.observed_treatment == o1
    assert got.expected_treatment == pytest.approx(e1, abs=1.5e-6)
    assert got.variance == pytest.approx(v, abs=1.5e-6)
    assert got.z_score == pytest.approx(z, abs=1.5e-6)
    assert got.significant_95 == (abs(z) > 1.959964)
    # assignment is a fair coin on a null effect: the statistic should
    # exist (non-degenerate risk sets) on the real corpus
    assert got.variance > 0.0


def test_brier_decomposition_matches_python_recompute(spark):
    """Brier, reliability, resolution, uncertainty and the per-bin
    stats must equal a from-scratch Python recompute on the sf0.01
    corpus (sf0.001's test split collapses to one bin), and the Murphy
    identity Brier = REL - RES + UNC + within-bin-variance must hold."""
    import math

    from datalakes_and_data_integration_spark.plans.ml import (
        _fit,
        _scored,
        _split_pred_spark,
        logreg_brier_decomposition,
    )

    SF01 = "/root/testdata/sf0.01"
    out = logreg_brier_decomposition(spark, SF01).collect()
    assert len(out) > 1  # the milli-logit grid is non-degenerate here
    got = {r.bin: r for r in out}

    train_pred, test_pred = _split_pred_spark()
    model, _ = _fit(spark, SF01, train_pred)
    rows = _scored(spark, SF01, test_pred, model).collect()
    from collections import defaultdict

    bins = defaultdict(list)
    for r in rows:
        p = 1.0 / (1.0 + math.exp(-r.z))
        bins[max(min(math.floor(1000.0 * r.z), 7), -8)].append((r.y, p))
    n = len(rows)
    obar = sum(y for r in rows for y in [r.y]) / n
    brier = (
        sum(
            (p - y) ** 2
            for grp in bins.values()
            for y, p in grp
        )
        / n
    )
    rel = sum(
        len(g)
        * (sum(p for _y, p in g) / len(g) - sum(y for y, _p in g) / len(g))
        ** 2
        for g in bins.values()
    ) / n
    res = sum(
        len(g) * (sum(y for y, _p in g) / len(g) - obar) ** 2
        for g in bins.values()
    ) / n
    wbv = sum(
        sum((p - sum(pp for _y, pp in g) / len(g)) ** 2 for _y, p in g)
        for g in bins.values()
    ) / n
    assert set(got) == set(bins)
    any_row = next(iter(got.values()))
    assert any_row.brier == pytest.approx(brier, abs=1.5e-6)
    assert any_row.reliability == pytest.approx(rel, abs=1.5e-6)
    assert any_row.resolution == pytest.approx(res, abs=1.5e-6)
    assert any_row.uncertainty == pytest.approx(
        obar * (1 - obar), abs=1.5e-6
    )
    for k, g in bins.items():
        assert got[k].n == len(g)
        assert got[k].n_pos == sum(y for y, _p in g)
        assert got[k].mean_pred == pytest.approx(
            sum(p for _y, p in g) / len(g), abs=1.5e-6
        )
    # Exact Murphy identity: the binned decomposition plus the
    # within-bin variance AND the within-bin forecast-outcome
    # covariance (the term the textbook form drops by assuming
    # constant forecasts per bin)
    wcov = sum(
        sum(
            (p - sum(pp for _y, pp in g) / len(g))
            * (y - sum(yy for yy, _p in g) / len(g))
            for y, p in g
        )
        for g in bins.values()
    ) / n
    assert brier == pytest.approx(
        rel - res + obar * (1 - obar) + wbv - 2 * wcov, abs=1e-9
    )
    assert wbv >= 0.0 and res >= 0.0 and rel >= 0.0


def test_ccf_matches_python_recompute(spark):
    """Each lag's Pearson r must equal a from-scratch Python CCF on
    the same daily (view, purchase) value series, lag 0 must equal
    the plain correlation, and r(+k) on (x, y) must equal r(-k) on
    the series swapped."""
    import math

    from pyspark.sql import functions as F

    from datalakes_and_data_integration_spark.plans._util import T
    from datalakes_and_data_integration_spark.plans.timeseries import (
        _CCF_MAX_LAG,
        daily_cross_correlation,
    )

    got = {r.lag: r for r in daily_cross_correlation(spark, SF).collect()}
    daily = (
        T(spark, SF, "events")
        .groupBy(
            F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01")).alias(
                "di"
            )
        )
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("event_type") == "view",
                        F.col("value").cast("decimal(18,6)"),
                    )
                ),
                F.lit(0),
            )
            .cast("double")
            .alias("x"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("event_type") == "purchase",
                        F.col("value").cast("decimal(18,6)"),
                    )
                ),
                F.lit(0),
            )
            .cast("double")
            .alias("y"),
        )
        .collect()
    )
    xs = {r.di: r.x for r in daily}
    ys = {r.di: r.y for r in daily}

    def pearson(pairs):
        n = len(pairs)
        if n < 2:
            return 0.0
        sx = sum(p[0] for p in pairs)
        sy = sum(p[1] for p in pairs)
        sxx = sum(p[0] ** 2 for p in pairs)
        syy = sum(p[1] ** 2 for p in pairs)
        sxy = sum(p[0] * p[1] for p in pairs)
        vx = n * sxx - sx * sx
        vy = n * syy - sy * sy
        if vx <= 0 or vy <= 0:
            return 0.0
        return (n * sxy - sx * sy) / math.sqrt(vx * vy)

    assert set(got) == set(range(-_CCF_MAX_LAG, _CCF_MAX_LAG + 1))
    for lag in got:
        pairs = [
            (xs[d], ys[d + lag]) for d in xs if (d + lag) in ys
        ]
        assert got[lag].n_days == len(pairs), lag
        assert got[lag].ccf_r == pytest.approx(
            pearson(pairs), abs=1.5e-6
        ), lag
    # antisymmetry of the lag convention: r_{xy}(+k) == r_{yx}(-k)
    k = 3
    swapped = [(ys[d], xs[d - k]) for d in ys if (d - k) in xs]
    assert got[k].ccf_r == pytest.approx(
        pearson([(b, a) for a, b in swapped]), abs=1.5e-6
    )


def test_ccf_maintained_state_is_batching_invariant(spark, tmp_path):
    """Weekly batching, a single batch, and a replayed batch id must
    all land on the identical CCF readout (maintained == batch plus
    the ledger no-op, at the readout level — the quantile-maintenance
    pin applied to the correlation state)."""
    from pyspark.sql import functions as F

    from datalakes_and_data_integration_spark.plans._util import T
    from datalakes_and_data_integration_spark.plans.streaming_extra import (
        _weekly_bounds,
    )
    from datalakes_and_data_integration_spark.plans.timeseries import (
        _ccf_daily_dec,
        _ccf_readout,
        daily_cross_correlation,
    )
    from datalakes_and_data_integration_spark.streaming.sketch_maintenance import (
        BID,
        merge_state,
    )

    ev = T(spark, SF, "events").select("event_type", "value", "ts")
    weekly_state = str(tmp_path / "weekly")
    daily = None
    for i, (lo, hi) in enumerate(
        zip(_weekly_bounds(ev), _weekly_bounds(ev)[1:])
    ):
        daily = merge_state(
            spark,
            weekly_state,
            _ccf_daily_dec(
                ev.filter((F.col("ts") >= lo) & (F.col("ts") < hi))
            ).withColumn(BID, F.lit(i)),
            batch_ids=[i],
            key_cols=["di"],
            aggs={"x": "sum", "y": "sum"},
        )
    weekly = {
        r.lag: (r.n_days, r.ccf_r)
        for r in _ccf_readout(spark, daily).collect()
    }
    batch = {
        r.lag: (r.n_days, r.ccf_r)
        for r in daily_cross_correlation(spark, SF).collect()
    }
    assert weekly == batch and len(weekly) == 15

    replayed = merge_state(
        spark,
        weekly_state,
        # would double every day if the ledger failed
        _ccf_daily_dec(ev).withColumn(BID, F.lit(0)),
        batch_ids=[0],
        key_cols=["di"],
        aggs={"x": "sum", "y": "sum"},
    )
    after = {
        r.lag: (r.n_days, r.ccf_r)
        for r in _ccf_readout(spark, replayed).collect()
    }
    assert after == weekly
