"""Distributed model training as engine aggregates: logistic regression.

The last step of a curation pipeline is often a lightweight model ON the
lake (a quality classifier over embeddings — the fastText/logreg stage of
CCNet-style pipelines). Full-batch gradient descent maps exactly onto the
engine's strengths: each iteration is ONE map-side-combined aggregation
over the fact table producing a dim-sized gradient (65 values per model),
the driver updates the weight vector (model parameters are dim-sized by
definition — a scale-ok collect), and the next iteration's plan reads the
weights from one array literal, so lineage stays flat (the IVF k-means
pattern, not the CC-loop pattern — see NOTES.md lineage hazard). Every GD
query trains through the one trainer ``_gd``: K models (heads) cost one
scan per iteration.

Cross-engine EXACT determinism (the interesting part):

- the per-row logit z = b + w_0·x_0 + ... + w_63·x_63 is a FIXED-ORDER
  left-associated double chain in both engines (Spark folds the
  products of one weight array literal in the chain's order, ``_hof_z``;
  the oracle reads the weights through scalar subqueries) — SQL engines
  do not reassociate floating-point addition, so the chains are
  bit-identical;
- σ(z) = 1/(1+exp(-z)) in double: exp on bit-identical inputs (the same
  empirical contract as ln in source_lang_entropy);
- sums ACROSS rows (the gradient reduction, where partition order would
  bite) are true SUM aggregates over DECIMAL(38,18)-cast double terms —
  exact, order-independent, identical to DuckDB's decimal SUM. Chained
  decimal `+` is deliberately avoided: Spark caps precision at 38 and
  REDUCES SCALE on long chains (allowPrecisionLoss), which silently
  diverges from a decimal SUM;
- the mean-gradient division and weight update are plain double ops in
  fixed order on both sides; weights are emitted through the
  ROUND(DECIMAL, 6) recipe, so a 1-ulp transcendental wobble sits ten
  orders below the rounding grid.

At 100 TB: the per-iteration cost is one scan + a (dim x heads) partial
aggregate — no row ever shuffles; only the reduced gradient state moves.
Swap full-batch for mini-batch sampling or L-BFGS when iterations get
expensive; the aggregation shape is unchanged.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datalakes_and_data_integration_spark.plans._util import (
    T,
    doubled_midranks,
    r6,
    r6_sql,
    spread,
)
from datalakes_and_data_integration_spark.plans.registry import register
from datalakes_and_data_integration_spark.plans.similarity import _fx_term

_DIM = 64
_ITERS = 3
_LR = 0.1
_POS_LABEL = 0  # one-vs-rest: label 0 against the others
_POS_WEIGHT = 9.0  # class weight for the ~10% positive class (cost-sensitive GD)


_CHUNK = 8  # parenthesization grain for the logit chain (see _assoc_chain)


def _assoc_chain(bias: str, terms: list[str]) -> str:
    """``((b + c0) + c1) + ...`` where each ``c_i`` is a left-associated
    chunk of {_CHUNK} products.

    The SAME generator builds the Spark and DuckDB expressions, so both
    engines parse the IDENTICAL tree — floating-point addition is not
    associative, and neither engine reassociates it, so equal trees mean
    equal bits. Chunking exists because a flat 65-deep chain exceeds
    DuckDB's expression-binder recursion limit."""
    chunks = []
    for i in range(0, len(terms), _CHUNK):
        chunks.append("(" + " + ".join(terms[i : i + _CHUNK]) + ")")
    return " + ".join([f"({bias})"] + chunks)


def _oracle_z_chain(wrow: str) -> str:
    """The logit chain reading weights from the pivoted one-row CTE."""
    return _assoc_chain(
        f"{wrow}.b",
        [
            f"{wrow}.w{j} * CAST(emb[{j + 1}] AS DOUBLE)"
            for j in range(_DIM)
        ],
    )


def _logreg_oracle() -> str:
    prev = "w0"
    steps = [
        f"""
    rows AS (
      SELECT vec_id, CAST(label = {_POS_LABEL} AS INT) AS y, embedding AS emb
      FROM embeddings
    ),
    n AS (SELECT count(*) AS n FROM rows),
    dims AS (SELECT CAST(i AS INT) AS dim FROM range({_DIM}) r(i)),
    w0 AS (SELECT dim, CAST(0.0 AS DOUBLE) AS w, CAST(0.0 AS DOUBLE) AS b
           FROM dims)"""
    ]
    for k in range(1, _ITERS + 1):
        pivot_cols = ", ".join(
            f"max(CASE WHEN dim = {j} THEN w END) AS w{j}"
            for j in range(_DIM)
        )
        steps.append(
            f"""
    wrow{k} AS (
      SELECT {pivot_cols}, any_value(b) AS b FROM {prev}
    ),
    sig{k} AS (
      SELECT vec_id, y, emb,
             1.0 / (1.0 + exp(-({_oracle_z_chain(f"wrow{k}")}))) AS sig
      FROM rows CROSS JOIN wrow{k}
    ),
    g{k} AS (
      SELECT d.dim,
             CAST(sum(CAST(((CASE WHEN s.y = 1 THEN 9.0 ELSE 1.0 END)
                            * (s.sig - CAST(s.y AS DOUBLE)))
                           * CAST(s.emb[d.dim + 1] AS DOUBLE)
                           AS DECIMAL(38,18))) AS DOUBLE)
               / (SELECT n FROM n) AS gmean
      FROM sig{k} s CROSS JOIN dims d
      GROUP BY d.dim
    ),
    gb{k} AS (
      SELECT CAST(sum(CAST((CASE WHEN s.y = 1 THEN 9.0 ELSE 1.0 END)
                           * (s.sig - CAST(s.y AS DOUBLE)) AS DECIMAL(38,18)))
                  AS DOUBLE) / (SELECT n FROM n) AS gbmean
      FROM sig{k} s
    ),
    w{k} AS (
      SELECT p.dim, p.w - {_LR!r} * g.gmean AS w,
             p.b - {_LR!r} * (SELECT gbmean FROM gb{k}) AS b
      FROM {prev} p JOIN g{k} g USING (dim)
    )"""
        )
        prev = f"w{k}"
    return (
        "WITH "
        + ",".join(steps)
        + f"""
    SELECT dim,
           CAST(ROUND(CAST(w AS DECIMAL(27,12)), 6) AS DOUBLE) AS weight
    FROM {prev}
    UNION ALL
    SELECT -1 AS dim,
           CAST(ROUND(CAST(any_value(b) AS DECIMAL(27,12)), 6) AS DOUBLE)
    FROM {prev}
    """
    )


_NCHUNKS = _DIM // _CHUNK
# _hof_z folds exactly _NCHUNKS full chunks; a partial final chunk would
# be silently DROPPED from z (ADVICE r9) — unlike _assoc_chain, which
# handles a remainder. Fail loudly if either constant ever changes.
assert _DIM % _CHUNK == 0, "_hof_z requires _DIM to be a multiple of _CHUNK"


def _warr_sql(wf: list[float]) -> str:
    """A weight vector as ONE array literal expression; float repr
    round-trips, so the literals parse to the identical doubles the
    oracle's pivoted weight row carries."""
    return "array(" + ", ".join(f"{v!r}D" for v in wf) + ")"


def _hof_terms(warr: str) -> str:
    """``w_j * x_j`` terms array — the same per-term double product as
    the oracle's chain, with weights read from an array expression.
    Spark's ``embedding`` is 0-based where DuckDB's ``emb[j+1]`` is not."""
    return f"zip_with({warr}, embedding, (wt, x) -> wt * CAST(x AS DOUBLE))"


def _hof_z(tcol: str, bias: str) -> str:
    """Bit-identical higher-order twin of ``_assoc_chain`` over a terms
    column: the same ``((b + c0) + c1) + ...`` two-level left fold,
    where chunk ``c_i`` left-folds ``t[8i+1..]`` seeded from ``t[8i]``
    (seeding from the first term, NOT from 0.0, reproduces the
    parenthesized chunk exactly — no extra IEEE add).

    The Spark side's one logit form, for training and scoring alike.
    Inlining 64 weight literals per model instead puts every weight into
    the generated Java source, which is new each GD iteration, so every
    iteration paid a large Janino compile (OPTIMIZATION_r09.md: ~3.5 s
    per iteration for a 0.6 s aggregation at 5 models); the folded
    array literal is one object the generated code references."""
    chunks = (
        f"transform(sequence(0, {_NCHUNKS - 1}), i -> "
        f"aggregate(slice({tcol}, {_CHUNK} * i + 2, {_CHUNK - 1}), "
        f"{tcol}[{_CHUNK} * i], (a, v) -> a + v))"
    )
    return f"aggregate({chunks}, {bias}, (acc, c) -> acc + c)"


def _with_z(df, models):
    """``df`` plus the logit ``z{h}`` of each head's model; NULL for a
    head with no model, as the oracles' NULL weight row makes their chain
    NULL."""
    t = df.selectExpr(
        "*",
        *[
            f"{_hof_terms(_warr_sql(m[0]))} AS t{h}"
            for h, m in enumerate(models)
            if m
        ],
    )
    return t.selectExpr(
        *df.columns,
        *[
            (_hof_z(f"t{h}", f"{m[1]!r}D") if m else "CAST(NULL AS DOUBLE)")
            + f" AS z{h}"
            for h, m in enumerate(models)
        ],
    )


def _gd(rows, heads):
    """Train one logistic model per head: ``_ITERS`` full-batch GD
    iterations of all heads in ONE scan each.

    A head is ``(label, mask)``, two SQL predicates over ``rows``: the
    head's y is ``CAST(label AS INT)`` and it trains on the rows where
    ``mask`` holds. Each iteration is one aggregate over the exploded
    embedding grouped by dim, with every head's gradient sum masked in
    its column; regrouping the identical decimal addends by dim cannot
    change an exact SUM. The head's row count n is the count(*) of its
    rows, which rides the first aggregate: ``posexplode_outer`` gives a
    NULL or empty embedding one (NULL dim) row, so it counts as in the
    oracles.

    Returns ``(models, n)``: per head ``(w, b)``, or None when the head
    has no model — no training row, or NULL gradient sums (every
    embedding NULL). The oracles' SQL NULL arithmetic keeps such a model
    NULL through the later iterations; each readout maps None onto what
    its oracle returns."""
    # a small file scans as ONE partition, which would run the sigmoid
    # folds, the explode and the partial aggregate on one core; spread is
    # a no-op where the scan already has a split per core
    d = (
        spread(rows, rows.sparkSession, by="vec_id")
        .selectExpr(
            "embedding",
            *[f"CAST({lab} AS INT) AS y{h}" for h, (lab, _) in enumerate(heads)],
            *[f"({mask}) AS m{h}" for h, (_, mask) in enumerate(heads)],
        )
        .persist()  # the iterations share the spread scan
    )
    hs = range(len(heads))
    models = [([0.0] * _DIM, 0.0) for _ in hs]
    n: list[int] | None = None
    for _ in range(_ITERS):
        if not any(models):
            break
        agg = (
            _with_z(d, models)
            .selectExpr(
                "embedding",
                *[f"m{h}" for h in hs],
                *[
                    f"((CASE WHEN y{h} = 1 THEN {_POS_WEIGHT!r} ELSE 1.0 END)"
                    f" * (1.0D / (1.0D + exp(-z{h})) - CAST(y{h} AS DOUBLE)))"
                    f" AS c{h}"
                    for h in hs
                ],
            )
            .selectExpr(
                *[f"m{h}" for h in hs],
                *[f"c{h}" for h in hs],
                "posexplode_outer(embedding) AS (dim, x)",
            )
            .groupBy("dim")
            .agg(
                *[
                    F.expr(
                        f"sum(CASE WHEN m{h} THEN CAST(c{h} * CAST(x AS DOUBLE)"
                        f" AS DECIMAL(38,18)) END)"
                    ).alias(f"g{h}")
                    for h in hs
                ],
                # one exploded row per input row: dim 0, or the NULL dim
                # of a NULL or empty embedding
                *[
                    F.expr(
                        f"sum(CASE WHEN m{h} AND dim = 0 THEN"
                        f" CAST(c{h} AS DECIMAL(38,18)) END)"
                    ).alias(f"gb{h}")
                    for h in hs
                ],
                *[
                    F.expr(
                        f"count(CASE WHEN m{h} AND coalesce(dim, 0) = 0"
                        f" THEN 1 END)"
                    ).alias(f"n{h}")
                    for h in (hs if n is None else ())
                ],
            )
            .collect()  # scale-ok: dim x heads gradient rows per iteration
        )
        byd = {r["dim"]: r for r in agg}
        if n is None:
            n = [sum(r[f"n{h}"] for r in agg) for h in hs]
        nxt = []
        for h, m in enumerate(models):
            gb = byd[0][f"gb{h}"] if 0 in byd else None
            if m is None or gb is None:
                nxt.append(None)
                continue
            w, b = m
            nxt.append(
                (
                    [
                        w[j] - _LR * (float(byd[j][f"g{h}"]) / n[h])
                        for j in range(_DIM)
                    ],
                    b - _LR * (float(gb) / n[h]),
                )
            )
        models = nxt
    return models, n


def _fit(spark, sf_dir, where: str = "TRUE"):
    """``(model, n)`` of the one-vs-rest head trained on the rows
    ``where`` holds (the held-out split's predicate lands on the scan as
    a pushed filter)."""
    (m,), (n,) = _gd(
        T(spark, sf_dir, "embeddings").where(where),
        [(f"label = {_POS_LABEL}", "TRUE")],
    )
    return m, n


def _scored(spark, sf_dir, where: str, model):
    """``(y, z)`` of the rows ``where`` holds, scored by ``model``."""
    rows = T(spark, sf_dir, "embeddings").where(where).selectExpr(
        "embedding", f"CAST(label = {_POS_LABEL} AS INT) AS y"
    )
    return _with_z(rows, [model]).selectExpr("y", "z0 AS z")


def _weight_rows(model, n: int) -> list[tuple]:
    """``(dim, weight)`` rows of one head, the bias as dim -1, as the
    oracles' final weight table holds them: with no model, a NULL weight
    per dim when the head had training rows and no dim row when it had
    none (the bias row is the readout's to keep or drop)."""
    w, b = model or ([None] * _DIM if n else [], None)
    return list(enumerate(w)) + [(-1, b)]


@register(
    "logreg_gd_weights",
    oracle=_logreg_oracle(),
    description=f"Distributed logistic-regression training ({_ITERS} "
    f"full-batch GD iterations, lr={_LR}, label {_POS_LABEL} vs rest on "
    "the 64-dim embeddings): each iteration is ONE map-side-combined "
    "aggregate of 65 decimal-exact gradient sums (the exploded embedding "
    "grouped by dim, over fixed-order double sigmoid terms); the driver "
    "holds only the dim-sized weight vector and rebuilds the next plan "
    "from one array literal of the weights (flat lineage, IVF pattern). "
    "Output: final weights per dimension "
    "(+ bias as dim -1), decimal-rounded. The oracle unrolls the same "
    "three iterations in SQL — weights match cross-engine EXACTLY "
    "because logits are identical left-associated double chains, row "
    "reductions are exact decimal SUMs, and updates are fixed-order "
    "double ops. The 100 TB shape: per iteration one scan, no row "
    "shuffle — only the 65-value gradient moves.",
    tags=("ml", "training", "gradient-descent", "llm-pipeline"),
)
def logreg_gd_weights(spark, sf_dir):
    model = spark.createDataFrame(
        _weight_rows(*_fit(spark, sf_dir)), "dim int, weight double"
    )
    return model.select(
        "dim",
        r6(F.col("weight")).alias("weight"),
    )


def _trained_with_block(train_pred: str | None = None) -> str:
    """The WITH-block prefix every trained-model oracle builds on: the
    full training CTE chain of ``_logreg_oracle()`` (rows constrained
    to ``train_pred`` when given) extended with the pivoted
    final-weight row ``wrowF``. One definition of the brittle string
    surgery (replace + rindex slice) instead of the six copies that
    had accumulated by round-9 second session."""
    base = _logreg_oracle()
    if train_pred is not None:
        base = base.replace(
            "FROM embeddings\n    )",
            f"FROM embeddings\n      WHERE {train_pred}\n    )",
            1,
        )
    with_block = base[: base.rindex("SELECT dim")]
    pivot_cols = ", ".join(
        f"max(CASE WHEN dim = {j} THEN w END) AS w{j}" for j in range(_DIM)
    )
    return (
        with_block
        + f""", wrowF AS (
      SELECT {pivot_cols}, any_value(b) AS b FROM w{_ITERS}
    )"""
    )


def _confusion_oracle() -> str:
    """Reuse the full training unroll, then one scoring pass. The decision
    boundary sigma(z) >= 0.5 is exactly z >= 0, so no transcendental sits
    on the comparison — the predicate is a sign test on bit-identical
    doubles."""
    return (
        _trained_with_block()
        + f"""
    SELECT r.y AS label_true,
           ({_oracle_z_chain("wrowF")}) >= 0.0 AS pred_pos,
           count(*) AS n
    FROM rows r CROSS JOIN wrowF
    GROUP BY 1, 2
    """
    )


@register(
    "logreg_confusion",
    oracle=_confusion_oracle(),
    description="Training-set confusion matrix of the GD-trained logistic "
    "model (label_true x pred_pos counts): the scoring pass folds the "
    "learned weights' array literal into the fixed-order logit chain, "
    "and the decision boundary "
    "sigma(z)>=0.5 is evaluated as the sign test z>=0 — no transcendental "
    "on the comparison, so predictions match cross-engine exactly. Scale "
    "shape: one scan + a 4-cell map-side-combined aggregate; the model "
    "rides into the executors as one array literal (nothing joins, "
    "nothing shuffles but the 4 counts).",
    tags=("ml", "evaluation", "llm-pipeline"),
)
def logreg_confusion(spark, sf_dir):
    return _confusion(spark, sf_dir, "TRUE", "TRUE")


def _confusion(spark, sf_dir, train_pred: str, test_pred: str):
    """Confusion counts of the rows ``test_pred`` holds under the model
    trained on the rows ``train_pred`` holds."""
    m, _ = _fit(spark, sf_dir, train_pred)
    return (
        _scored(spark, sf_dir, test_pred, m)
        .selectExpr("y AS label_true", "z >= 0.0D AS pred_pos")
        .groupBy("label_true", "pred_pos")
        .agg(F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------------
# Held-out evaluation: the honest generalization number. Train on the
# md5-hash 80% split of vec_id (the same deterministic splitter as
# dataset_split_assignment — no rand(), stable on any cluster), score the
# disjoint >=90% test split. Same exactness contract as logreg_confusion.
# ---------------------------------------------------------------------------


def _split_pred_duck() -> tuple[str, str]:
    from datalakes_and_data_integration_spark.functions.hashing import (
        hash60_sql_duck,
    )

    bucket = f"({hash60_sql_duck('CAST(vec_id AS VARCHAR)', seed=7)} % 100)"
    return f"{bucket} < 80", f"{bucket} >= 90"


def _split_pred_spark() -> tuple[str, str]:
    from datalakes_and_data_integration_spark.functions.hashing import (
        hash60_sql_spark,
    )

    bucket = f"({hash60_sql_spark('CAST(vec_id AS STRING)', seed=7)} % 100)"
    return f"{bucket} < 80", f"{bucket} >= 90"


def _holdout_oracle() -> str:
    train_pred, test_pred = _split_pred_duck()
    # Train only on the 80% split: constrain the rows CTE; score the
    # disjoint test split against the final pivoted weight row.
    return (
        _trained_with_block(train_pred)
        + f""",
    test_rows AS (
      SELECT vec_id, CAST(label = {_POS_LABEL} AS INT) AS y, embedding AS emb
      FROM embeddings
      WHERE {test_pred}
    )
    SELECT r.y AS label_true,
           ({_oracle_z_chain("wrowF")}) >= 0.0 AS pred_pos,
           count(*) AS n
    FROM test_rows r CROSS JOIN wrowF
    GROUP BY 1, 2
    """
    )


@register(
    "logreg_holdout_eval",
    oracle=_holdout_oracle(),
    description="Held-out generalization of the GD-trained classifier: "
    "train on the deterministic md5-hash 80% split of vec_id (the "
    "dataset_split_assignment splitter — reproducible on any cluster, no "
    "rand()), score the disjoint 10% test split as a confusion matrix. "
    "Same exactness contract as the trainer (fixed-order logit chains, "
    "decimal-SUM gradients, sign-test decision boundary); the oracle "
    "re-derives the identical training run on the identical subset. "
    "Scale shape: the split predicate is a pushed filter on the train "
    "scans; evaluation is one filtered scan + a 4-cell aggregate.",
    tags=("ml", "evaluation", "split", "llm-pipeline"),
)
def logreg_holdout_eval(spark, sf_dir):
    return _confusion(spark, sf_dir, *_split_pred_spark())


# ---------------------------------------------------------------------------
# Multi-head training: all 10 one-vs-rest classifiers in ONE scan per
# iteration. The scan-amortization story that matters at 100 TB — training
# K models costs the same data movement as training one: the per-iteration
# aggregate just grows to K masked gradient sums per dim (10 heads x 65
# here), all map-side-combined, and the driver update is a K x dim matrix.
# ---------------------------------------------------------------------------

_HEADS = 10


def _oracle_head_chain(wrow: str, h: int) -> str:
    return _assoc_chain(
        f"{wrow}.b{h}",
        [
            f"{wrow}.w{h}_{j} * CAST(emb[{j + 1}] AS DOUBLE)"
            for j in range(_DIM)
        ],
    )


def _multihead_oracle() -> str:
    sig_case = (
        "(CASE h.head "
        + " ".join(f"WHEN {h} THEN s.sig{h}" for h in range(_HEADS))
        + " END)"
    )
    prev = "w0"
    steps = [
        f"""
    rows AS (SELECT vec_id, label, embedding AS emb FROM embeddings),
    n AS (SELECT count(*) AS n FROM rows),
    dims AS (SELECT CAST(i AS INT) AS dim FROM range({_DIM}) r(i)),
    heads AS (SELECT CAST(i AS INT) AS head FROM range({_HEADS}) r(i)),
    w0 AS (SELECT head, dim, CAST(0.0 AS DOUBLE) AS w,
                  CAST(0.0 AS DOUBLE) AS b
           FROM heads CROSS JOIN dims)"""
    ]
    for k in range(1, _ITERS + 1):
        pivot = ", ".join(
            f"max(CASE WHEN head = {h} AND dim = {j} THEN w END) AS w{h}_{j}"
            for h in range(_HEADS)
            for j in range(_DIM)
        )
        bias_pivot = ", ".join(
            f"max(CASE WHEN head = {h} AND dim = 0 THEN b END) AS b{h}"
            for h in range(_HEADS)
        )
        sig_cols = ", ".join(
            f"1.0 / (1.0 + exp(-({_oracle_head_chain(f'wrow{k}', h)}))) "
            f"AS sig{h}"
            for h in range(_HEADS)
        )
        steps.append(
            f"""
    wrow{k} AS (SELECT {pivot}, {bias_pivot} FROM {prev}),
    sig{k} AS (
      SELECT vec_id, label, emb, {sig_cols}
      FROM rows CROSS JOIN wrow{k}
    ),
    g{k} AS (
      SELECT h.head, d.dim,
             CAST(sum(CAST(((CASE WHEN s.label = h.head THEN {_POS_WEIGHT!r}
                                  ELSE 1.0 END)
                            * ({sig_case}
                               - CAST(CAST(s.label = h.head AS INT) AS DOUBLE)))
                           * CAST(s.emb[d.dim + 1] AS DOUBLE)
                           AS DECIMAL(38,18))) AS DOUBLE)
               / (SELECT n FROM n) AS gmean
      FROM sig{k} s CROSS JOIN heads h CROSS JOIN dims d
      GROUP BY h.head, d.dim
    ),
    gb{k} AS (
      SELECT h.head,
             CAST(sum(CAST((CASE WHEN s.label = h.head THEN {_POS_WEIGHT!r}
                                 ELSE 1.0 END)
                           * ({sig_case}
                              - CAST(CAST(s.label = h.head AS INT) AS DOUBLE))
                           AS DECIMAL(38,18))) AS DOUBLE)
               / (SELECT n FROM n) AS gbmean
      FROM sig{k} s CROSS JOIN heads h
      GROUP BY h.head
    ),
    w{k} AS (
      SELECT p.head, p.dim, p.w - {_LR!r} * g.gmean AS w,
             p.b - {_LR!r} * gb.gbmean AS b
      FROM {prev} p
      JOIN g{k} g ON g.head = p.head AND g.dim = p.dim
      JOIN gb{k} gb ON gb.head = p.head
    )"""
        )
        prev = f"w{k}"
    return (
        "WITH "
        + ",".join(steps)
        + f"""
    SELECT head, dim,
           CAST(ROUND(CAST(w AS DECIMAL(27,12)), 6) AS DOUBLE) AS weight
    FROM {prev}
    UNION ALL
    SELECT head, -1 AS dim,
           CAST(ROUND(CAST(any_value(b) AS DECIMAL(27,12)), 6) AS DOUBLE)
    FROM {prev} GROUP BY head
    """
    )


@register(
    "logreg_multihead_weights",
    oracle=_multihead_oracle(),
    description=f"All {_HEADS} one-vs-rest logistic heads trained "
    f"simultaneously ({_ITERS} GD iterations, class weight "
    f"{_POS_WEIGHT}): ONE scan per iteration feeds one map-side-combined "
    f"aggregate of {_HEADS * (_DIM + 1)} gradient sums — training K "
    "models costs the data movement of one, the scan-amortization "
    "property a 100 TB corpus demands. The driver holds the K x dim "
    "weight matrix, one array literal per head in the plan; exactness "
    "contract identical to "
    "logreg_gd_weights (fixed-order chains, decimal-SUM gradients, "
    "shared chunked-associativity generator), verified over all 650 "
    "final parameters against the fully-unrolled SQL oracle.",
    tags=("ml", "training", "multi-model", "llm-pipeline"),
)
def logreg_multihead_weights(spark, sf_dir):
    models, n = _gd(
        T(spark, sf_dir, "embeddings"),
        [(f"label = {h}", "TRUE") for h in range(_HEADS)],
    )
    # a head with no training row has no row in the oracle's grouped
    # weight table, bias included
    model = spark.createDataFrame(
        [
            (h, *r)
            for h in range(_HEADS)
            if n[h]
            for r in _weight_rows(models[h], n[h])
        ],
        "head int, dim int, weight double",
    )
    return model.select(
        "head",
        "dim",
        r6(F.col("weight")).alias("weight"),
    )


# ---------------------------------------------------------------------------
# Calibration bins: the reliability-diagram evidence for using the trained
# quality classifier as a sampling weight (CCNet-style pipelines keep
# documents proportionally to classifier score — miscalibrated scores
# silently skew the corpus). Held-out logits are bucketed by milli-logit
# floor(1000*z) (clamped to [-8, 7]); because z is a fixed-order double
# chain, both
# engines compute bit-identical logits and therefore identical bins —
# the whole report is integer counts plus one decimal-routed rate.
# ---------------------------------------------------------------------------


def _calibration_oracle() -> str:
    train_pred, test_pred = _split_pred_duck()
    return (
        _trained_with_block(train_pred)
        + f""",
    test_rows AS (
      SELECT vec_id, CAST(label = {_POS_LABEL} AS INT) AS y, embedding AS emb
      FROM embeddings
      WHERE {test_pred}
    ),
    scored AS (
      SELECT y, ({_oracle_z_chain("wrowF")}) AS z
      FROM test_rows CROSS JOIN wrowF
    )
    SELECT CAST(greatest(least(floor(1000.0 * z), 7), -8) AS BIGINT) AS z_bin,
           count(*) AS n,
           CAST(sum(y) AS BIGINT) AS n_pos,
           CAST(ROUND(CAST(CAST(sum(y) AS DOUBLE) / count(*)
                           AS DECIMAL(27,12)), 6) AS DOUBLE) AS pos_rate
    FROM scored GROUP BY 1
    """
    )


# ---------------------------------------------------------------------------
# ROC/AUC: the threshold-free ranking quality of the held-out classifier.
# Exact AUC is the Mann-Whitney statistic of the positive-class logits —
# computed with integer DOUBLED midranks over DISTINCT logit values (the
# ab_mann_whitney_u recipe), so the area is an exact BIGINT ratio before
# one decimal-routed division. Next to it, the BOUNDED-STATE scale path: a
# 16-cell trapezoid over the clamped milli-logit bins (the calibration
# grid) — at 100 TB the exact rank pass needs a global distinct-value
# window, the binned one needs a 16-row reduce; publishing both with
# their delta is the audit that says when the cheap one is safe.
# ---------------------------------------------------------------------------


_ROC_EPILOGUE = """
    CAST(r2p - np * (np + 1) AS BIGINT) AS u2_pos,
    CAST(ROUND(CAST(CASE WHEN np = 0 OR nn = 0 THEN 0.0
                    ELSE CAST(r2p - np * (np + 1) AS DOUBLE)
                    / (2.0 * CAST(np AS DOUBLE) * CAST(nn AS DOUBLE)) END
                    AS DECIMAL(27,12)), 6) AS DOUBLE) AS auc,
    trap2 AS trap2_num,
    CAST(ROUND(CAST(CASE WHEN np = 0 OR nn = 0 THEN 0.0
                    ELSE CAST(trap2 AS DOUBLE)
                    / (2.0 * CAST(np AS DOUBLE) * CAST(nn AS DOUBLE)) END
                    AS DECIMAL(27,12)), 6) AS DOUBLE) AS auc_bin16
"""


def _roc_auc_oracle() -> str:
    train_pred, test_pred = _split_pred_duck()
    return (
        _trained_with_block(train_pred)
        + f""",
    test_rows AS (
      SELECT CAST(label = {_POS_LABEL} AS INT) AS y, embedding AS emb
      FROM embeddings
      WHERE {test_pred}
    ),
    scored AS MATERIALIZED (
      SELECT y, ({_oracle_z_chain("wrowF")}) AS z
      FROM test_rows CROSS JOIN wrowF
    ),
    g AS (
      SELECT z, CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(y) AS BIGINT) AS pos
      FROM scored GROUP BY z
    ),
    rk AS (
      SELECT z, cnt, pos,
             CAST(coalesce(sum(cnt) OVER (ORDER BY z
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cb
      FROM g
    ),
    rank_agg AS (
      SELECT CAST(sum(pos) AS BIGINT) AS np,
             CAST(sum(cnt - pos) AS BIGINT) AS nn,
             CAST(sum(pos * (2 * cb + cnt + 1)) AS BIGINT) AS r2p
      FROM rk
    ),
    bins AS (
      SELECT CAST(greatest(least(floor(1000.0 * z), 7), -8) AS BIGINT)
               AS z_bin,
             CAST(sum(y) AS BIGINT) AS bpos,
             CAST(sum(1 - y) AS BIGINT) AS bneg
      FROM scored GROUP BY 1
    ),
    binrk AS (
      SELECT z_bin, bpos, bneg,
             CAST(coalesce(sum(bpos) OVER (ORDER BY z_bin DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS pos_above
      FROM bins
    ),
    trap AS (
      SELECT CAST(sum(bneg * (2 * pos_above + bpos)) AS BIGINT) AS trap2
      FROM binrk
    )
    SELECT np AS n_pos, nn AS n_neg, {_ROC_EPILOGUE}
    FROM rank_agg CROSS JOIN trap
    """
    )


@register(
    "logreg_roc_auc",
    oracle=_roc_auc_oracle(),
    description="Held-out ROC area of the GD-trained classifier, both "
    "ways a 100 TB pipeline computes it: exact AUC as the Mann-Whitney "
    "statistic of positive-class logits (integer DOUBLED midranks over "
    "DISTINCT logit values — u2_pos is an exact BIGINT, ties get exact "
    "midranks), and the bounded-state twin — a trapezoid over the 16 "
    "clamped milli-logit bins (trap2_num, also an exact BIGINT). Each "
    "area is one decimal-routed division of exact integers, so both "
    "engines agree to the bit; publishing exact-vs-binned side by side "
    "is the audit for when the 16-cell reduce can replace the global "
    "distinct-logit window at scale. Logits are the trainer's fixed-"
    "order double chains; the md5 80/10 train/test split rides the "
    "scan as a pushed filter.",
    tags=("ml", "evaluation", "ranking", "llm-pipeline"),
)
def logreg_roc_auc(spark, sf_dir):
    from pyspark.sql import Window

    train_pred, test_pred = _split_pred_spark()
    m, _ = _fit(spark, sf_dir, train_pred)
    scored = _scored(
        spark, sf_dir, test_pred, m
    ).persist()  # rank pass + bin pass share the scoring
    g = scored.groupBy("z").agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum("y").cast("long").alias("pos"),
    )
    # NULL logits (NULL embeddings) sort last, as in the oracle's ORDER
    # BY. This exact-AUC leg sorts the DISTINCT logits; the binned leg
    # below is the bounded-state scale path.
    rank_agg = doubled_midranks(g, "z", nulls_last=True).agg(
        F.sum("pos").cast("long").alias("np"),
        F.sum(F.col("cnt") - F.col("pos")).cast("long").alias("nn"),
        F.sum(F.col("pos") * F.col("dm")).cast("long").alias("r2p"),
    )
    bins = scored.groupBy(
        F.greatest(
            F.least(F.floor(F.lit(1000.0) * F.col("z")), F.lit(7)),
            F.lit(-8),
        )
        .cast("long")
        .alias("z_bin")
    ).agg(
        F.sum("y").cast("long").alias("bpos"),
        F.sum(1 - F.col("y")).cast("long").alias("bneg"),
    )
    wd = Window.orderBy(F.col("z_bin").desc()).rowsBetween(  # scale-ok: 16-bin grid
        Window.unboundedPreceding, -1
    )
    trap = bins.select(
        "bpos",
        "bneg",
        F.coalesce(F.sum("bpos").over(wd), F.lit(0))
        .cast("long")
        .alias("pos_above"),
    ).agg(
        F.sum(F.col("bneg") * (2 * F.col("pos_above") + F.col("bpos")))
        .cast("long")
        .alias("trap2")
    )
    return (
        rank_agg.crossJoin(F.broadcast(trap))  # scale-ok: 1-row x 1-row stats
        .selectExpr(
            "np AS n_pos",
            "nn AS n_neg",
            *[e.strip() for e in _ROC_EPILOGUE.strip().split(",\n")],
        )
    )


# ---------------------------------------------------------------------------
# Split-conformal prediction: the distribution-free coverage guarantee
# (Vovk et al.; Angelopoulos & Bates '21 tutorial) on top of the trained
# classifier. The md5 split already reserves an untouched middle bucket —
# [80, 90) — between the 80% train and 10% test splits: that is the
# calibration set. Nonconformity of class c at logit z is the signed
# margin (c = 1 -> -z, c = 0 -> z); the calibration quantile q at
# miscoverage alpha = 0.1 is the ceil((n+1)(1-alpha))-th smallest TRUE-
# class score, selected by integer index arithmetic (no floating-point
# quantile), and the audited guarantee is P(true class in prediction
# set) >= 1 - alpha on the disjoint test split.
# ---------------------------------------------------------------------------

_CONF_ALPHA_NUM = 1  # alpha = _CONF_ALPHA_NUM / _CONF_ALPHA_DEN = 0.1
_CONF_ALPHA_DEN = 10


def _calib_pred_duck() -> str:
    from datalakes_and_data_integration_spark.functions.hashing import (
        hash60_sql_duck,
    )

    bucket = f"({hash60_sql_duck('CAST(vec_id AS VARCHAR)', seed=7)} % 100)"
    return f"{bucket} >= 80 AND {bucket} < 90"


def _calib_pred_spark() -> str:
    from datalakes_and_data_integration_spark.functions.hashing import (
        hash60_sql_spark,
    )

    bucket = f"({hash60_sql_spark('CAST(vec_id AS STRING)', seed=7)} % 100)"
    return f"{bucket} >= 80 AND {bucket} < 90"


_CONF_EPILOGUE = """
    CAST(ROUND(CAST(q AS DECIMAL(27,12)), 6) AS DOUBLE) AS q_threshold,
    n_test,
    n_covered,
    CAST(ROUND(CAST(CASE WHEN n_test = 0 THEN 0.0
                    ELSE CAST(n_covered AS DOUBLE) / n_test END
                    AS DECIMAL(27,12)), 6) AS DOUBLE) AS coverage,
    CAST(ROUND(CAST(CASE WHEN n_test = 0 THEN 0.0
                    ELSE CAST(set_size_sum AS DOUBLE) / n_test END
                    AS DECIMAL(27,12)), 6) AS DOUBLE) AS avg_set_size,
    n_empty,
    n_both
"""


def _conformal_oracle() -> str:
    train_pred, test_pred = _split_pred_duck()
    calib_pred = _calib_pred_duck()
    alpha_q = (
        f"(({_CONF_ALPHA_DEN - _CONF_ALPHA_NUM} * (n_cal + 1)"
        f" + {_CONF_ALPHA_DEN - 1}) // {_CONF_ALPHA_DEN})"
    )
    return (
        _trained_with_block(train_pred)
        + f""",
    calib_rows AS (
      SELECT CAST(label = {_POS_LABEL} AS INT) AS y, embedding AS emb
      FROM embeddings
      WHERE {calib_pred}
    ),
    calib AS MATERIALIZED (
      SELECT y,
             CASE WHEN y = 1 THEN -({_oracle_z_chain("wrowF")})
                  ELSE ({_oracle_z_chain("wrowF")}) END AS s
      FROM calib_rows CROSS JOIN wrowF
    ),
    ncal AS (
      SELECT CAST(count(*) AS BIGINT) AS n_cal FROM calib
    ),
    qidx AS (
      SELECT n_cal,
             CAST(least({alpha_q}, n_cal) AS BIGINT) AS q_index
      FROM ncal
    ),
    sg AS (
      SELECT s, CAST(count(*) AS BIGINT) AS cnt FROM calib GROUP BY s
    ),
    scum AS (
      SELECT s, CAST(sum(cnt) OVER (ORDER BY s) AS BIGINT) AS cum FROM sg
    ),
    thr AS (
      SELECT min(s) AS q FROM scum, qidx WHERE cum >= q_index
    ),
    test_rows AS (
      SELECT CAST(label = {_POS_LABEL} AS INT) AS y, embedding AS emb
      FROM embeddings
      WHERE {test_pred}
    ),
    test_scored AS (
      SELECT y, ({_oracle_z_chain("wrowF")}) AS z
      FROM test_rows CROSS JOIN wrowF
    ),
    audit AS (
      SELECT CAST(count(*) AS BIGINT) AS n_test,
             CAST(sum(CAST((CASE WHEN y = 1 THEN -z ELSE z END)
                           <= (SELECT q FROM thr) AS INT)) AS BIGINT)
               AS n_covered,
             CAST(sum(CAST(z <= (SELECT q FROM thr) AS INT)
                      + CAST(-z <= (SELECT q FROM thr) AS INT)) AS BIGINT)
               AS set_size_sum,
             CAST(sum(CAST(NOT (z <= (SELECT q FROM thr))
                           AND NOT (-z <= (SELECT q FROM thr)) AS INT))
                  AS BIGINT) AS n_empty,
             CAST(sum(CAST((z <= (SELECT q FROM thr))
                           AND (-z <= (SELECT q FROM thr)) AS INT))
                  AS BIGINT) AS n_both
      FROM test_scored
    )
    SELECT i.n_cal, i.q_index, {_CONF_EPILOGUE}
    FROM qidx i CROSS JOIN thr CROSS JOIN audit
    """
    )


@register(
    "conformal_prediction_audit",
    oracle=_conformal_oracle(),
    description="Split-conformal prediction audit of the GD-trained "
    "classifier — the distribution-free coverage guarantee (Vovk; "
    "Angelopoulos-Bates): the md5 split's untouched [80,90) middle "
    "bucket calibrates, nonconformity is the signed margin (-z for the "
    "positive class, z for the negative), the conformal quantile is the "
    "ceil((n_cal+1)(1-alpha))-th smallest true-class score at alpha=0.1 "
    "selected by INTEGER index arithmetic over a distinct-score "
    "cumulative window (never a floating-point percentile), and the "
    "disjoint 10% test split audits the guarantee: coverage >= 0.9, "
    "plus average prediction-set size and the empty/both-classes set "
    "counts that diagnose an over- or under-confident score scale. "
    "Logits are the trainer's bit-identical fixed-order chains, the "
    "threshold comparison is on exact doubles, and every reported rate "
    "is a decimal-routed division of exact integers. Scale: three "
    "pushed-filter scans (train iterations, calibration, test), one "
    "distinct-score window bounded by the calibration split, and a "
    "7-number reduce.",
    tags=("ml", "evaluation", "uncertainty", "llm-pipeline"),
)
def conformal_prediction_audit(spark, sf_dir):
    from pyspark.sql import Window

    train_pred, test_pred = _split_pred_spark()
    calib_pred = _calib_pred_spark()
    m, _ = _fit(spark, sf_dir, train_pred)
    calib = (
        _scored(spark, sf_dir, calib_pred, m)
        .selectExpr("y", "CASE WHEN y = 1 THEN -z ELSE z END AS s")
        .persist()  # count + distinct-score threshold share the scoring
    )
    n_cal = calib.count()  # scale-ok: 1 scalar (calibration-set size)
    q_index = min(
        (
            (_CONF_ALPHA_DEN - _CONF_ALPHA_NUM) * (n_cal + 1)
            + _CONF_ALPHA_DEN
            - 1
        )
        // _CONF_ALPHA_DEN,
        n_cal,
    )
    sg = calib.groupBy("s").agg(F.count("*").cast("long").alias("cnt"))
    # NULL scores (NULL embeddings) sort last, as in the oracle's ORDER BY
    wv = Window.orderBy(F.col("s").asc_nulls_last()).rowsBetween(  # scale-ok: DISTINCT calibration scores (calibration split is the small sample by design)
        Window.unboundedPreceding, 0
    )
    thr = (
        sg.select("s", F.sum("cnt").over(wv).cast("long").alias("cum"))
        .where(F.col("cum") >= q_index)
        .agg(F.min("s").alias("q"))
    )
    test = _scored(spark, sf_dir, test_pred, m)
    audit = test.crossJoin(F.broadcast(thr)).agg(  # scale-ok: 1-row threshold broadcast
        F.count("*").cast("long").alias("n_test"),
        F.sum(
            F.expr("CAST((CASE WHEN y = 1 THEN -z ELSE z END) <= q AS INT)")
        )
        .cast("long")
        .alias("n_covered"),
        F.sum(F.expr("CAST(z <= q AS INT) + CAST(-z <= q AS INT)"))
        .cast("long")
        .alias("set_size_sum"),
        F.sum(F.expr("CAST(NOT (z <= q) AND NOT (-z <= q) AS INT)"))
        .cast("long")
        .alias("n_empty"),
        F.sum(F.expr("CAST((z <= q) AND (-z <= q) AS INT)"))
        .cast("long")
        .alias("n_both"),
        F.first("q").alias("q"),
    )
    meta = spark.createDataFrame(
        [(n_cal, q_index)], "n_cal long, q_index long"
    )
    return (
        meta.crossJoin(F.broadcast(audit))  # scale-ok: 1-row x 1-row stats
        .selectExpr(
            "n_cal",
            "q_index",
            *[e.strip() for e in _CONF_EPILOGUE.strip().split(",\n")],
        )
    )


# ---------------------------------------------------------------------------
# Isotonic calibration (PAVA) over the milli-logit bins: the monotone
# recalibration CCNet-style samplers apply before using classifier scores
# as keep-probabilities. The weighted isotonic fit has the closed minimax
# form fitted(i) = max_{j<=i} min_{k>=i} avg(y over bins j..k) — over the
# 16-bin grid that is at most 16^3 bounded work, so the whole fit is
# grid-arithmetic on exact BIGINT prefix sums: no iterative
# pool-adjacent-violators loop, no driver state, and the one DOUBLE
# division per (j,k) span is exact-rounded from exact integers in both
# engines.
# ---------------------------------------------------------------------------


def _isotonic_oracle() -> str:
    train_pred, test_pred = _split_pred_duck()
    return (
        _trained_with_block(train_pred)
        + f""",
    test_rows AS (
      SELECT CAST(label = {_POS_LABEL} AS INT) AS y, embedding AS emb
      FROM embeddings
      WHERE {test_pred}
    ),
    bins AS MATERIALIZED (
      SELECT CAST(greatest(least(floor(1000.0 *
               ({_oracle_z_chain("wrowF")})), 7), -8) AS BIGINT) AS z_bin,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS n_pos
      FROM test_rows CROSS JOIN wrowF
      GROUP BY 1
    ),
    pre AS (
      SELECT z_bin, n, n_pos,
             CAST(sum(n) OVER (ORDER BY z_bin) AS BIGINT) AS cn,
             CAST(sum(n_pos) OVER (ORDER BY z_bin) AS BIGINT) AS cp
      FROM bins
    ),
    spans AS (
      SELECT lo.z_bin AS j, hi.z_bin AS k,
             CAST(hi.cp - lo.cp + lo.n_pos AS DOUBLE)
               / CAST(hi.cn - lo.cn + lo.n AS DOUBLE) AS avg_rate
      FROM pre lo JOIN pre hi ON lo.z_bin <= hi.z_bin
    ),
    inner_min AS (
      SELECT b.z_bin, s.j, min(s.avg_rate) AS m
      FROM bins b JOIN spans s ON s.j <= b.z_bin AND s.k >= b.z_bin
      GROUP BY b.z_bin, s.j
    ),
    fit AS (
      SELECT z_bin, max(m) AS iso FROM inner_min GROUP BY z_bin
    )
    SELECT b.z_bin, b.n, b.n_pos,
           CAST(ROUND(CAST(CAST(b.n_pos AS DOUBLE) / b.n
                           AS DECIMAL(27,12)), 6) AS DOUBLE) AS raw_rate,
           CAST(ROUND(CAST(f.iso AS DECIMAL(27,12)), 6) AS DOUBLE)
             AS iso_rate
    FROM bins b JOIN fit f USING (z_bin)
    """
    )


@register(
    "logreg_isotonic_calibration",
    oracle=_isotonic_oracle(),
    description="Isotonic (PAVA) recalibration of the held-out classifier "
    "over the 16 clamped milli-logit bins — the monotone score-to-"
    "probability map a quality-sampling pipeline fits before using "
    "scores as keep-probabilities. Instead of the sequential pool-"
    "adjacent-violators loop, the fit uses the closed minimax form "
    "fitted(i) = max over j<=i of min over k>=i of the weighted mean of "
    "y on bins j..k — on the bounded bin grid that is <=16^3 arithmetic "
    "over exact BIGINT prefix sums, fully declarative in both engines "
    "(no driver iteration, no state). Each span mean is ONE double "
    "division of exact integers (IEEE-exact rounding, bit-identical "
    "cross-engine), so min/max land identically and the fitted curve "
    "hashes. Scale: the corpus pass is the same one binned scan as the "
    "reliability diagram; everything after is 16-row grid algebra.",
    tags=("ml", "evaluation", "calibration", "llm-pipeline"),
)
def logreg_isotonic_calibration(spark, sf_dir):
    from pyspark.sql import Window

    train_pred, test_pred = _split_pred_spark()
    m, _ = _fit(spark, sf_dir, train_pred)
    bins = (
        _scored(spark, sf_dir, test_pred, m)
        .select(
            "y",
            F.greatest(
                F.least(F.floor(F.lit(1000.0) * F.col("z")), F.lit(7)),
                F.lit(-8),
            )
            .cast("long")
            .alias("z_bin"),
        )
        .groupBy("z_bin")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("y").cast("long").alias("n_pos"),
        )
        .persist()  # bin grid (<=16 rows): span/fit/report passes share it
    )
    wpre = Window.orderBy("z_bin").rowsBetween(  # scale-ok: 16-bin grid
        Window.unboundedPreceding, 0
    )
    pre = bins.select(
        "z_bin",
        "n",
        "n_pos",
        F.sum("n").over(wpre).cast("long").alias("cn"),
        F.sum("n_pos").over(wpre).cast("long").alias("cp"),
    )
    lo = pre.select(
        F.col("z_bin").alias("j"),
        F.col("n").alias("lo_n"),
        F.col("n_pos").alias("lo_p"),
        F.col("cn").alias("lo_cn"),
        F.col("cp").alias("lo_cp"),
    )
    hi = pre.select(
        F.col("z_bin").alias("k"),
        F.col("cn").alias("hi_cn"),
        F.col("cp").alias("hi_cp"),
    )
    spans = lo.join(F.broadcast(hi), F.col("j") <= F.col("k")).select(  # scale-ok: 16x16 bin-grid spans
        "j",
        "k",
        (
            (F.col("hi_cp") - F.col("lo_cp") + F.col("lo_p")).cast("double")
            / (F.col("hi_cn") - F.col("lo_cn") + F.col("lo_n")).cast("double")
        ).alias("avg_rate"),
    )
    inner_min = (
        bins.select("z_bin")
        .join(
            F.broadcast(spans),
            (F.col("j") <= F.col("z_bin")) & (F.col("k") >= F.col("z_bin")),
        )  # scale-ok: 16^3 bin-grid triples
        .groupBy("z_bin", "j")
        .agg(F.min("avg_rate").alias("m"))
    )
    fit = inner_min.groupBy("z_bin").agg(F.max("m").alias("iso"))
    return bins.join(F.broadcast(fit), "z_bin").select(
        "z_bin",
        "n",
        "n_pos",
        r6(F.col("n_pos").cast("double") / F.col("n")).alias("raw_rate"),
        r6(F.col("iso")).alias("iso_rate"),
    )


@register(
    "logreg_calibration_bins",
    oracle=_calibration_oracle(),
    description="Reliability diagram of the held-out classifier scores: "
    "train on the md5 80% split, bucket the disjoint 10% split's logits "
    "by floor(1000z) (milli-logit bins, sized to the 3-iteration weight "
    "scale) clamped to [-8, 7], report per-bin count, positives, and "
    "decimal-routed positive rate. The logit is the same fixed-order "
    "double chain as the trainer, so bin membership is bit-identical "
    "cross-engine; the score-as-sampling-weight sanity check a "
    "CCNet-style quality-filtering pipeline publishes. One filtered scan "
    "+ an 8-cell aggregate on top of the shared training iterations.",
    tags=("ml", "evaluation", "calibration", "llm-pipeline"),
)
def logreg_calibration_bins(spark, sf_dir):
    train_pred, test_pred = _split_pred_spark()
    m, _ = _fit(spark, sf_dir, train_pred)
    return (
        _scored(spark, sf_dir, test_pred, m)
        .select(
            "y",
            F.greatest(
                F.least(F.floor(F.lit(1000.0) * F.col("z")), F.lit(7)),
                F.lit(-8),
            )
            .cast("long")
            .alias("z_bin"),
        )
        .groupBy("z_bin")
        .agg(
            F.count("*").alias("n"),
            F.sum("y").cast("long").alias("n_pos"),
            r6(F.sum("y").cast("double") / F.count("*")).alias("pos_rate"),
        )
    )


# ---------------------------------------------------------------------------
# K-fold cross-validation (round-9 second session): the honest
# small-sample evaluation protocol, trained the only way it should be
# trained on a 100 TB lake — all K fold-models simultaneously in ONE
# scan per GD iteration (the multihead scan-amortization applied to
# folds): each fold's gradient is the same map-side-combined aggregate
# with a fold<>f mask, so 5-fold CV costs the data movement of one
# training run, not five. Folds are the md5 bucket (bucket // 20),
# disjoint and deterministic on any cluster; each row is scored by the
# model that never saw it.
# ---------------------------------------------------------------------------

_FOLDS = 5


def _fold_sql_duck() -> str:
    from datalakes_and_data_integration_spark.functions.hashing import (
        hash60_sql_duck,
    )

    b = f"({hash60_sql_duck('CAST(vec_id AS VARCHAR)', seed=7)} % 100)"
    return f"CAST({b} // 20 AS INT)"


def _fold_sql_spark() -> str:
    from datalakes_and_data_integration_spark.functions.hashing import (
        hash60_sql_spark,
    )

    b = f"({hash60_sql_spark('CAST(vec_id AS STRING)', seed=7)} % 100)"
    return f"CAST({b} div 20 AS INT)"


def _kfold_oracle() -> str:
    sig_case = (
        "(CASE h.fold "
        + " ".join(f"WHEN {f} THEN s.sig{f}" for f in range(_FOLDS))
        + " END)"
    )
    prev = "w0"
    steps = [
        f"""
    rows AS (
      SELECT vec_id, CAST(label = {_POS_LABEL} AS INT) AS y,
             embedding AS emb, {_fold_sql_duck()} AS fold
      FROM embeddings
    ),
    folds AS (SELECT CAST(i AS INT) AS fold FROM range({_FOLDS}) r(i)),
    ntrain AS (
      SELECT f.fold,
             (SELECT coalesce(count(*), 0) FROM rows r
              WHERE r.fold <> f.fold) AS n
      FROM folds f
    ),
    dims AS (SELECT CAST(i AS INT) AS dim FROM range({_DIM}) r(i)),
    w0 AS (SELECT fold, dim, CAST(0.0 AS DOUBLE) AS w,
                  CAST(0.0 AS DOUBLE) AS b
           FROM folds CROSS JOIN dims)"""
    ]
    for k in range(1, _ITERS + 1):
        pivot = ", ".join(
            f"max(CASE WHEN fold = {f} AND dim = {j} THEN w END) AS w{f}_{j}"
            for f in range(_FOLDS)
            for j in range(_DIM)
        )
        bias_pivot = ", ".join(
            f"max(CASE WHEN fold = {f} AND dim = 0 THEN b END) AS b{f}"
            for f in range(_FOLDS)
        )
        sig_cols = ", ".join(
            f"1.0 / (1.0 + exp(-({_oracle_head_chain(f'wrow{k}', f)}))) "
            f"AS sig{f}"
            for f in range(_FOLDS)
        )
        steps.append(
            f"""
    wrow{k} AS (SELECT {pivot}, {bias_pivot} FROM {prev}),
    sig{k} AS (
      SELECT vec_id, y, emb, fold, {sig_cols}
      FROM rows CROSS JOIN wrow{k}
    ),
    g{k} AS (
      SELECT h.fold, d.dim,
             CAST(coalesce(sum(CASE WHEN s.fold <> h.fold THEN
                      CAST(((CASE WHEN s.y = 1 THEN {_POS_WEIGHT!r}
                                  ELSE 1.0 END)
                            * ({sig_case} - CAST(s.y AS DOUBLE)))
                           * CAST(s.emb[d.dim + 1] AS DOUBLE)
                           AS DECIMAL(38,18)) END), 0) AS DOUBLE)
               / greatest((SELECT n FROM ntrain t WHERE t.fold = h.fold), 1)
               AS gmean
      FROM sig{k} s CROSS JOIN folds h CROSS JOIN dims d
      GROUP BY h.fold, d.dim
    ),
    gb{k} AS (
      SELECT h.fold,
             CAST(coalesce(sum(CASE WHEN s.fold <> h.fold THEN
                      CAST((CASE WHEN s.y = 1 THEN {_POS_WEIGHT!r}
                                 ELSE 1.0 END)
                           * ({sig_case} - CAST(s.y AS DOUBLE))
                           AS DECIMAL(38,18)) END), 0) AS DOUBLE)
               / greatest((SELECT n FROM ntrain t WHERE t.fold = h.fold), 1)
               AS gbmean
      FROM sig{k} s CROSS JOIN folds h
      GROUP BY h.fold
    ),
    w{k} AS (
      SELECT p.fold, p.dim, p.w - {_LR!r} * g.gmean AS w,
             p.b - {_LR!r} * gb.gbmean AS b
      FROM {prev} p
      JOIN g{k} g ON g.fold = p.fold AND g.dim = p.dim
      JOIN gb{k} gb ON gb.fold = p.fold
    )"""
        )
        prev = f"w{k}"
    final_pivot = ", ".join(
        f"max(CASE WHEN fold = {f} AND dim = {j} THEN w END) AS w{f}_{j}"
        for f in range(_FOLDS)
        for j in range(_DIM)
    )
    final_bias = ", ".join(
        f"max(CASE WHEN fold = {f} AND dim = 0 THEN b END) AS b{f}"
        for f in range(_FOLDS)
    )
    pred_case = (
        "(CASE r.fold "
        + " ".join(
            f"WHEN {f} THEN ({_oracle_head_chain('wrowF', f)}) >= 0.0"
            for f in range(_FOLDS)
        )
        + " END)"
    )
    return (
        "WITH "
        + ",".join(steps)
        + f""",
    wrowF AS (SELECT {final_pivot}, {final_bias} FROM {prev})
    SELECT r.fold, r.y AS label_true, {pred_case} AS pred_pos,
           CAST(count(*) AS BIGINT) AS n
    FROM rows r CROSS JOIN wrowF
    GROUP BY 1, 2, 3
    """
    )


@register(
    "logreg_kfold_cv",
    oracle=_kfold_oracle(),
    description=f"{_FOLDS}-fold cross-validated evaluation of the GD "
    "classifier with SCAN-AMORTIZED training: all fold-models train "
    "simultaneously — each GD iteration is ONE pass computing every "
    f"fold's masked gradient ({_FOLDS} x {_DIM + 1} decimal-exact sums, "
    "map-side combined; a fold's gradient sums rows where fold <> f), "
    "so K-fold CV moves the data of ONE training run, the property "
    "that makes honest evaluation affordable on a 100 TB corpus. Folds "
    "are the deterministic md5 bucket // 20 (disjoint, "
    "cluster-reproducible); each row is scored by the one model that "
    "never trained on it (out-of-fold prediction), reported as a "
    "per-fold confusion matrix whose decision is the z >= 0 sign test "
    "on bit-identical fixed-order chains. The oracle unrolls all "
    f"{_ITERS} iterations x {_FOLDS} folds in SQL and matches exactly.",
    tags=("ml", "evaluation", "cross-validation", "llm-pipeline"),
    bench=True,  # round-9 second-session flagship: K models, one scan/iter
)
def logreg_kfold_cv(spark, sf_dir):
    e = T(spark, sf_dir, "embeddings").selectExpr(
        "vec_id", "embedding", "label", f"{_fold_sql_spark()} AS fold"
    )
    models, _ = _gd(
        e, [(f"label = {_POS_LABEL}", f"fold <> {f}") for f in range(_FOLDS)]
    )
    # a fold with no model keeps its zero weights, as the oracle's
    # coalesce(sum, 0) / greatest(n, 1) does
    models = [m or ([0.0] * _DIM, 0.0) for m in models]
    pred_case = (
        "(CASE fold "
        + " ".join(f"WHEN {f} THEN (z{f} >= 0.0D)" for f in range(_FOLDS))
        + " END)"
    )
    return (
        _with_z(e, models)
        .selectExpr(
            "fold",
            f"CAST(label = {_POS_LABEL} AS INT) AS label_true",
            f"{pred_case} AS pred_pos",
        )
        .groupBy("fold", "label_true", "pred_pos")
        .agg(F.count("*").cast("long").alias("n"))
    )


# ---------------------------------------------------------------------------
# Greedy k-center coreset selection (round-9 second session): the
# corpus-level diversified-selection primitive (farthest-point
# traversal, the 2-approximation to the k-center objective — Gonzalez
# '85; the "select maximally spread exemplars" step of data-curation
# pipelines, distinct from the MMR rerank which diversifies a per-query
# shortlist). Every distance is the established fixed-point int64 form
# floor((x - q/1e9)^2 * 1e12) (similarity._fx_term) summed over dims —
# selection argmaxes compare exact integers, so the greedy trajectory is
# bit-identical cross-engine; center coordinates are quantized to int64
# nanos by the SAME floor(x * 1e9) both sides.
# ---------------------------------------------------------------------------

_KC_K = 5
_KC_SEED = 91


def _kcenter_oracle() -> str:
    from datalakes_and_data_integration_spark.functions.hashing import (
        hash60_sql_duck,
    )

    h = hash60_sql_duck("CAST(vec_id AS VARCHAR)", seed=_KC_SEED)
    qcols = ", ".join(
        f"CAST(floor(emb[{j + 1}] * 1e9) AS BIGINT) AS q{j}"
        for j in range(_DIM)
    )
    steps = [
        f"""
    rows AS (SELECT vec_id, embedding AS emb FROM embeddings),
    c1 AS (SELECT vec_id, emb FROM rows ORDER BY {h}, vec_id LIMIT 1),
    p1 AS (SELECT {qcols} FROM c1),
    d1 AS (
      SELECT r.vec_id, r.emb,
             {_assoc_chain("CAST(0 AS BIGINT)", [_fx_term(f"CAST(r.emb[{j + 1}] AS DOUBLE)", f"p.q{j}") for j in range(_DIM)])} AS dmin
      FROM rows r CROSS JOIN p1 p
    )"""
    ]
    prev = "d1"
    for k in range(2, _KC_K + 1):
        chain = _assoc_chain(
            "CAST(0 AS BIGINT)",
            [
                _fx_term(f"CAST(d.emb[{j + 1}] AS DOUBLE)", f"p.q{j}")
                for j in range(_DIM)
            ],
        )
        steps.append(
            f"""
    c{k} AS (SELECT vec_id, emb, dmin FROM {prev}
             ORDER BY dmin DESC, vec_id LIMIT 1),
    p{k} AS (SELECT {qcols} FROM c{k}),
    d{k} AS (
      SELECT d.vec_id, d.emb, least(d.dmin, {chain}) AS dmin
      FROM {prev} d CROSS JOIN p{k} p
    )"""
        )
        prev = f"d{k}"
    sel = [
        f"SELECT 1 AS step, (SELECT vec_id FROM c1) AS vec_id,"
        f" CAST(0 AS BIGINT) AS sep_d2"
    ] + [
        f"SELECT {k} AS step, vec_id, CAST(dmin AS BIGINT) AS sep_d2"
        f" FROM c{k}"
        for k in range(2, _KC_K + 1)
    ]
    return (
        "WITH "
        + ",".join(steps)
        + f""",
    picks AS ({" UNION ALL ".join(sel)}),
    radius AS (SELECT CAST(max(dmin) AS BIGINT) AS coverage_radius_d2
               FROM {prev})
    SELECT CAST(p.step AS INT) AS step, p.vec_id, p.sep_d2,
           r.coverage_radius_d2
    FROM picks p CROSS JOIN radius r
    """
    )


@register(
    "coreset_kcenter_selection",
    oracle=_kcenter_oracle(),
    description=f"Greedy k-center coreset selection (Gonzalez '85 "
    "farthest-point traversal, the 2-approximation): pick a seeded "
    f"start, then {_KC_K - 1} times pick the vector FARTHEST from the "
    "chosen set — the maximally-spread exemplar subset data-curation "
    "pipelines use for diversified sampling and annotation budgets "
    "(corpus-level; the MMR query is the per-query shortlist twin). "
    "Every squared distance is the fixed-point int64 form floor((x - "
    "q/1e9)^2 * 1e12) summed over dims (the IVF/PQ Lloyd trick), and "
    "center coordinates quantize to int64 nanos by the same floor both "
    "sides, so every greedy argmax compares exact integers and the "
    "trajectory is bit-identical cross-engine — ties broken by vec_id. "
    "Also reports the k-center objective: the coverage radius "
    "max-min-d2 after all picks. Scale: k passes over the corpus, "
    "each one scan with the running min carried as a column (no "
    "pairwise matrix, no shuffle beyond the argmax top-1); the chosen "
    "set rides as plan literals, dim-sized driver state (the logreg "
    "collect contract).",
    tags=("ml", "data-selection", "coreset", "llm-pipeline"),
)
def coreset_kcenter_selection(spark, sf_dir):
    import math as _m

    from pyspark.sql import Window as _Win

    from datalakes_and_data_integration_spark.functions.hashing import (
        hash60_seeded,
    )

    e = (
        T(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .persist()  # k greedy passes share the scan
    )
    head = (
        e.orderBy(
            hash60_seeded(F.col("vec_id").cast("string"), _KC_SEED),
            "vec_id",
        )
        .limit(1)
        .collect()  # scale-ok: 1 selected exemplar row per greedy step
    )
    if not head:
        # Empty corpus: the oracle's scalar-subquery start pick is NULL,
        # its later picks are empty and its radius max() is NULL.
        return spark.createDataFrame(
            [(1, None, 0, None)],
            "step int, vec_id long, sep_d2 long, coverage_radius_d2 long",
        )
    first = head[0]
    picks = [(1, first.vec_id, 0)]

    def _quant(emb) -> list:
        # a NULL coordinate (every coordinate of a NULL or empty pick)
        # quantizes to NULL, so its distance terms are NULL, as the
        # oracle's are
        return [
            "NULL" if x is None else _m.floor(float(x) * 1e9)
            for x in (emb or [None] * _DIM)
        ]

    q = _quant(first.embedding)
    chain = _assoc_chain(
        "CAST(0 AS BIGINT)",
        [
            _fx_term(f"CAST(embedding[{j}] AS DOUBLE)", q[j])
            for j in range(_DIM)
        ],
    )
    df = e.selectExpr("vec_id", "embedding", f"{chain} AS dmin")
    for k in range(2, _KC_K + 1):
        far = (
            df.orderBy(F.col("dmin").desc(), "vec_id")
            .limit(1)
            .collect()[0]  # scale-ok: 1 selected exemplar row per greedy step
        )
        picks.append((k, far.vec_id, far.dmin))
        q = _quant(far.embedding)
        chain = _assoc_chain(
            "CAST(0 AS BIGINT)",
            [
                _fx_term(f"CAST(embedding[{j}] AS DOUBLE)", q[j])
                for j in range(_DIM)
            ],
        )
        df = df.selectExpr(
            "vec_id", "embedding", f"least(dmin, {chain}) AS dmin"
        )
    radius = df.agg(
        F.max("dmin").cast("long").alias("coverage_radius_d2")
    )
    out = spark.createDataFrame(
        picks, "step int, vec_id long, sep_d2 long"
    )
    return out.crossJoin(F.broadcast(radius))  # scale-ok: k rows x 1-row radius


# ---------------------------------------------------------------------------
# Closed-form OLS via normal equations: the regression family's exact
# member. The GD queries above iterate; a two-regressor linear model
# needs no iteration at all — X'X is a 3x3 symmetric matrix of moment
# sums, and Cramer's rule inverts it in a dozen double ops. This is the
# classic "regression as one aggregation pass" shape every SQL-native
# ML system ships (e.g. MADlib's linregr): at any corpus size the scan
# reduces to ten moments and the driver-side state is one row.
# ---------------------------------------------------------------------------


# Stage 2: cofactor determinants over the moment row (shared text).
# A = [[nn,s1,s2],[s1,s11,s12],[s2,s12,s22]], rhs = [sy,s1y,s2y].
_OLS_DETS = [
    (
        "det",
        "nn * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)"
        " + s2 * (s1 * s12 - s11 * s2)",
    ),
    (
        "det0",
        "sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)"
        " + s2 * (s1y * s12 - s11 * s2y)",
    ),
    (
        "det1",
        "nn * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2)"
        " + s2 * (s1 * s2y - s1y * s2)",
    ),
    (
        "det2",
        "nn * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2)"
        " + sy * (s1 * s12 - s11 * s2)",
    ),
]

# Stage 3: coefficients (guarded on the singular case) — shared text.
_OLS_BETAS = [
    ("b0", "CASE WHEN det = 0.0 THEN 0.0 ELSE det0 / det END"),
    ("b1", "CASE WHEN det = 0.0 THEN 0.0 ELSE det1 / det END"),
    ("b2", "CASE WHEN det = 0.0 THEN 0.0 ELSE det2 / det END"),
]

# Stage 4: fit diagnostics from the same moments — shared text.
_OLS_SSE = "(syy - b0 * sy - b1 * s1y - b2 * s2y)"
_OLS_SST = "(syy - sy * sy / nn)"
_OLS_R2 = f"""CASE WHEN det = 0.0 OR {_OLS_SST} <= 0.0 THEN 0.0
             ELSE 1.0 - {_OLS_SSE} / {_OLS_SST} END"""
_OLS_RMSE = f"""CASE WHEN det = 0.0 THEN 0.0
               ELSE sqrt(greatest({_OLS_SSE}, 0.0) / nn) END"""


def _ols_oracle() -> str:
    dets = ",\n             ".join(f"{e} AS {n}" for n, e in _OLS_DETS)
    betas = ",\n             ".join(f"{e} AS {n}" for n, e in _OLS_BETAS)
    return f"""
    WITH moments AS (
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(*) AS DOUBLE) AS nn,
             CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS s1,
             CAST(sum(CAST(l_discount AS DECIMAL(8,6))) AS DOUBLE) AS s2,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
               AS sy,
             CAST(sum(CAST(CAST(l_quantity AS DECIMAL(19,2))
                           * CAST(l_quantity AS DECIMAL(12,2))
                           AS DECIMAL(38,4))) AS DOUBLE) AS s11,
             CAST(sum(CAST(CAST(l_discount AS DECIMAL(19,6))
                           * CAST(l_discount AS DECIMAL(8,6))
                           AS DECIMAL(38,12))) AS DOUBLE) AS s22,
             CAST(sum(CAST(CAST(l_quantity AS DECIMAL(19,2))
                           * CAST(l_discount AS DECIMAL(8,6))
                           AS DECIMAL(38,8))) AS DOUBLE) AS s12,
             CAST(sum(CAST(CAST(l_quantity AS DECIMAL(19,2))
                           * CAST(l_extendedprice AS DECIMAL(12,2))
                           AS DECIMAL(38,4))) AS DOUBLE) AS s1y,
             CAST(sum(CAST(CAST(l_discount AS DECIMAL(19,6))
                           * CAST(l_extendedprice AS DECIMAL(12,2))
                           AS DECIMAL(38,8))) AS DOUBLE) AS s2y,
             CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(19,2))
                           * CAST(l_extendedprice AS DECIMAL(12,2))
                           AS DECIMAL(38,4))) AS DOUBLE) AS syy
      FROM lineitem
    ),
    dets AS (
      SELECT *,
             {dets}
      FROM moments
    ),
    betas AS (
      SELECT *,
             {betas}
      FROM dets
    )
    SELECT n_rows,
           {r6_sql("b0")} AS beta0,
           {r6_sql("b1")} AS beta_qty,
           {r6_sql("b2")} AS beta_disc,
           {r6_sql(_OLS_R2)} AS r_squared,
           {r6_sql(_OLS_RMSE)} AS rmse
    FROM betas
    """


@register(
    "ols_two_factor_regression",
    oracle=_ols_oracle(),
    description="Closed-form OLS of l_extendedprice on (l_quantity, "
    "l_discount) via the normal equations — the exact, non-iterative "
    "member of the regression family (MADlib-style linregr as ONE "
    "aggregation): X'X is a 3x3 symmetric moment matrix, Cramer's rule "
    "inverts it in a fixed dozen double ops, and R^2/RMSE come from "
    "the same ten moments (SSE = Syy - b'X'y holds exactly for OLS "
    "with intercept). Every moment is an exact DECIMAL sum (the oracle "
    "widens one operand per product to force DuckDB's int128 multiply "
    "path — the CUPED engine-cliff rule); the determinant/beta/"
    "diagnostic stages are shared expression texts on bit-identical "
    "inputs, rounded through the DECIMAL(27,12) half-boundary recipe; "
    "the singular case (det = 0) degrades to zeros on both sides. "
    "Scale: one map-side-combined scan of the fact table reducing to "
    "a single 10-moment row — no shuffle carries more than partial "
    "aggregates; adding regressors grows the moment count "
    "quadratically but never adds a pass.",
    tags=("ml", "regression", "stats", "aggregate"),
    bench=True,  # promoted r9 third session: the closed-form-regression flagship
)
def ols_two_factor_regression(spark, sf_dir):
    # r09 optimization: keyed spread off the single-row-group scan
    # partition — the 11 decimal moment products otherwise accumulate on
    # one core (measured 1.27 -> 0.48 s warm; decimal sums are exact, so
    # the regrouping cannot change a bit). Keyed by a column the moments
    # already read (keeps ReadSchema minimal and works on the projected
    # singular-design fixture); no-op on a real cluster.
    li = spread(T(spark, sf_dir, "lineitem"), spark, by="l_extendedprice")
    moments = li.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.count("*").cast("double").alias("nn"),
        F.sum(F.expr("CAST(l_quantity AS DECIMAL(12,2))"))
        .cast("double")
        .alias("s1"),
        F.sum(F.expr("CAST(l_discount AS DECIMAL(8,6))"))
        .cast("double")
        .alias("s2"),
        F.sum(F.expr("CAST(l_extendedprice AS DECIMAL(12,2))"))
        .cast("double")
        .alias("sy"),
        F.sum(
            F.expr(
                "CAST(CAST(l_quantity AS DECIMAL(19,2))"
                " * CAST(l_quantity AS DECIMAL(12,2)) AS DECIMAL(38,4))"
            )
        )
        .cast("double")
        .alias("s11"),
        F.sum(
            F.expr(
                "CAST(CAST(l_discount AS DECIMAL(19,6))"
                " * CAST(l_discount AS DECIMAL(8,6)) AS DECIMAL(38,12))"
            )
        )
        .cast("double")
        .alias("s22"),
        F.sum(
            F.expr(
                "CAST(CAST(l_quantity AS DECIMAL(19,2))"
                " * CAST(l_discount AS DECIMAL(8,6)) AS DECIMAL(38,8))"
            )
        )
        .cast("double")
        .alias("s12"),
        F.sum(
            F.expr(
                "CAST(CAST(l_quantity AS DECIMAL(19,2))"
                " * CAST(l_extendedprice AS DECIMAL(12,2))"
                " AS DECIMAL(38,4))"
            )
        )
        .cast("double")
        .alias("s1y"),
        F.sum(
            F.expr(
                "CAST(CAST(l_discount AS DECIMAL(19,6))"
                " * CAST(l_extendedprice AS DECIMAL(12,2))"
                " AS DECIMAL(38,8))"
            )
        )
        .cast("double")
        .alias("s2y"),
        F.sum(
            F.expr(
                "CAST(CAST(l_extendedprice AS DECIMAL(19,2))"
                " * CAST(l_extendedprice AS DECIMAL(12,2))"
                " AS DECIMAL(38,4))"
            )
        )
        .cast("double")
        .alias("syy"),
    )
    dets = moments.selectExpr(
        "*", *[f"{e} AS {n}" for n, e in _OLS_DETS]
    )
    betas = dets.selectExpr(
        "*", *[f"{e} AS {n}" for n, e in _OLS_BETAS]
    )
    return betas.selectExpr(
        "n_rows",
        f"{r6_sql('b0')} AS beta0",
        f"{r6_sql('b1')} AS beta_qty",
        f"{r6_sql('b2')} AS beta_disc",
        f"{r6_sql(_OLS_R2)} AS r_squared",
        f"{r6_sql(_OLS_RMSE)} AS rmse",
    )


# ---------------------------------------------------------------------------
# Brier score with the Murphy (1973) decomposition (round-9 third
# session): the proper-scoring-rule companion to the reliability
# diagram — Brier = reliability - resolution + uncertainty
# (+ within-bin forecast variance for the unbinned score). Reliability
# says how far the predicted probabilities sit from observed rates
# (what isotonic calibration fixes), resolution says how much the
# bins actually separate outcomes (what calibration CANNOT add), and
# uncertainty is the outcome base rate's own entropy-like floor.
# ---------------------------------------------------------------------------


# Shared per-bin texts over (n, n_pos, sp) and the global obar; ``p``
# is the table prefix for the oracle's qualified references (one
# template, no .replace chains).


def _br_pb(p: str = "") -> str:
    return f"({p}sp / CAST({p}n AS DOUBLE))"


def _br_ob(p: str = "") -> str:
    return f"(CAST({p}n_pos AS DOUBLE) / CAST({p}n AS DOUBLE))"


_BR_PB = _br_pb()
_BR_OB = _br_ob()
_BR_REL_T = (
    f"CAST(CAST(n AS DOUBLE) * ({_BR_PB} - {_BR_OB})"
    f" * ({_BR_PB} - {_BR_OB}) AS DECIMAL(38,12))"
)
_BR_RES_T = (
    f"CAST(CAST(n AS DOUBLE) * ({_BR_OB} - obar)"
    f" * ({_BR_OB} - obar) AS DECIMAL(38,12))"
)


def _brier_oracle() -> str:
    train_pred, test_pred = _split_pred_duck()
    return (
        _trained_with_block(train_pred)
        + f""",
    test_rows AS (
      SELECT vec_id, CAST(label = {_POS_LABEL} AS INT) AS y,
             embedding AS emb
      FROM embeddings
      WHERE {test_pred}
    ),
    scored AS (
      SELECT y, ({_oracle_z_chain("wrowF")}) AS z
      FROM test_rows CROSS JOIN wrowF
    ),
    binned AS (
      SELECT CAST(greatest(least(floor(1000.0 * z), 7), -8) AS BIGINT)
               AS bin,
             y, 1.0 / (1.0 + exp(0.0 - z)) AS p
      FROM scored
    ),
    bins AS (
      SELECT bin, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS n_pos,
             CAST(sum(CAST(p AS DECIMAL(38,18))) AS DOUBLE) AS sp
      FROM binned GROUP BY 1
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS nn,
             CAST(sum(y) AS BIGINT) AS npos,
             CAST(sum(y) AS DOUBLE) / count(*) AS obar,
             CAST(sum(CAST((p - CAST(y AS DOUBLE))
                           * (p - CAST(y AS DOUBLE))
                           AS DECIMAL(38,18))) AS DOUBLE) / count(*)
               AS brier
      FROM binned
    ),
    decomp AS (
      SELECT CAST(coalesce(sum({_BR_REL_T}), 0) AS DOUBLE)
               / (SELECT nn FROM tot) AS reliability,
             CAST(coalesce(sum({_BR_RES_T}), 0) AS DOUBLE)
               / (SELECT nn FROM tot) AS resolution
      FROM bins CROSS JOIN tot
    )
    SELECT b.bin, b.n, b.n_pos,
           {r6_sql(_br_pb("b."))} AS mean_pred,
           {r6_sql(_br_ob("b."))} AS obs_rate,
           {r6_sql("t.brier")} AS brier,
           {r6_sql("d.reliability")} AS reliability,
           {r6_sql("d.resolution")} AS resolution,
           {r6_sql("t.obar * (1.0 - t.obar)")} AS uncertainty
    FROM bins b CROSS JOIN tot t CROSS JOIN decomp d
    """
    )


@register(
    "logreg_brier_decomposition",
    oracle=_brier_oracle(),
    description="Brier score of the held-out classifier with Murphy's "
    "decomposition over the clamped milli-logit bin grid (the "
    "calibration query's 16 cells, sized to the 3-iteration weight "
    "scale — equal-width probability bins degenerate to one cell "
    "here): "
    "Brier = reliability - resolution + uncertainty, up to the "
    "within-bin forecast variance and forecast-outcome covariance "
    "(the exact identity is pinned by test) — the proper-scoring "
    "companion to the "
    "reliability diagram that separates what recalibration can fix "
    "(reliability) from what it cannot add (resolution) against the "
    "base-rate floor (uncertainty). Probabilities are sigmoids of the "
    "shared fixed-order logit chain; per-row squared errors and "
    "per-row probabilities sum through DECIMAL(38,18) (the logreg "
    "gradient rule) and the 16-cell decomposition terms through "
    "DECIMAL(38,12). Scale: one scored scan over the 10% split on "
    "top of the shared training iterations; all decomposition state "
    "is the 16-cell bin grid.",
    tags=("ml", "evaluation", "calibration", "llm-pipeline"),
)
def logreg_brier_decomposition(spark, sf_dir):
    train_pred, test_pred = _split_pred_spark()
    m, _ = _fit(spark, sf_dir, train_pred)
    binned = (
        _scored(spark, sf_dir, test_pred, m)
        .select(
            "y",
            F.expr("1.0 / (1.0 + exp(0.0 - z))").alias("p"),
            F.expr(
                "CAST(greatest(least(floor(1000.0 * z), 7), -8)"
                " AS BIGINT)"
            ).alias("bin"),
        )
        .persist()  # bins + totals read the scored split
    )
    bins = binned.groupBy("bin").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
        F.sum(F.expr("CAST(p AS DECIMAL(38,18))"))
        .cast("double")
        .alias("sp"),
    )
    tot = binned.agg(
        F.count("*").cast("long").alias("nn"),
        F.sum("y").cast("long").alias("npos"),
        (F.sum("y").cast("double") / F.count("*")).alias("obar"),
        (
            F.sum(
                F.expr(
                    "CAST((p - CAST(y AS DOUBLE))"
                    " * (p - CAST(y AS DOUBLE)) AS DECIMAL(38,18))"
                )
            ).cast("double")
            / F.count("*")
        ).alias("brier"),
    )
    decomp = (
        bins.crossJoin(F.broadcast(tot))  # scale-ok: 16 bins x 1-row total
        .agg(
            (
                F.coalesce(F.sum(F.expr(_BR_REL_T)), F.lit(0)).cast(
                    "double"
                )
                / F.first(F.col("nn").cast("double"))
            ).alias("reliability"),
            (
                F.coalesce(F.sum(F.expr(_BR_RES_T)), F.lit(0)).cast(
                    "double"
                )
                / F.first(F.col("nn").cast("double"))
            ).alias("resolution"),
        )
    )
    return (
        bins.crossJoin(F.broadcast(tot))  # scale-ok: 16 bins x 1-row
        .crossJoin(F.broadcast(decomp))  # scale-ok: 1-row decomposition
        .selectExpr(
            "bin",
            "n",
            "n_pos",
            f"{r6_sql(_BR_PB)} AS mean_pred",
            f"{r6_sql(_BR_OB)} AS obs_rate",
            f"{r6_sql('brier')} AS brier",
            f"{r6_sql('reliability')} AS reliability",
            f"{r6_sql('resolution')} AS resolution",
            f"{r6_sql('obar * (1.0 - obar)')} AS uncertainty",
        )
    )
