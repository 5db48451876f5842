"""Batch model inference + evaluation: the missing half of a training
engine.

The reference trains (LogisticRegressionMaster.java:78-100 aggregates
worker gradients into the model) and hands the converged weights to the
surrounding ecosystem for scoring and evaluation; this module is that
half, Spark-first: the engine-trained model becomes a handful of
literals folded into Catalyst expressions, so scoring is a map-side
whole-stage-codegen pass over the feature relation — no UDF, no
shuffle — and the evaluation rollups (separation stats, tie-aware AUC,
decile gains) are standard partial aggregates on top. The scoring math
is the reference's own worker-side sigmoid-of-dot-product
(guagua-examples/src/main/java/ml/shifu/guagua/example/lr/
LogisticRegressionWorker.java:118-137).

Every operator here is DuckDB-oracle-checked end to end INCLUDING
training: the oracle replays the identical 5-step gradient descent as a
recursive CTE (shared verbatim with lr_train's hash-certified oracle via
``lr_train_it_cte``), rounds the weights to 6dp exactly as the engine
side does, then scores and aggregates — so a drift in either the engine
math or the scoring expression breaks the comparison.

Determinism: weights are rounded to 6dp on both sides (bit-identical —
lr_train is driver-hash-green on exactly this rounding), and scores are
rounded to 6dp before any grouping/ranking so the tie structure the AUC
and decile ops depend on is identical across engines. libm ``exp`` may
differ by 1 ulp between JVM and DuckDB; a 6dp rounding flips only if a
score sits within ~1e-16 of a 0.0000005 boundary — measure-zero on real
data, and tolerated by the tests' 1e-9 rtol everywhere it could matter.
The HASH-certified path (the inf_* columns on lr_train) does not rely
on that argument at all since round 10: it rescores the certified
weights with the rational surrogate σ̃ (pure IEEE, bit-exact by
construction at any scale) — see inference_cert_df and
lr_sql.scored_rational_cte.

100 TB notes, per operator:
- scoring: map-side only — broadcast-free (literals travel in the plan),
  fuses into whatever scan feeds it.
- AUC: exact tie-averaged Mann-Whitney WITHOUT any corpus-sized
  materialization: group-by-score partial agg (map-side combine), then
  the tie-averaged ranks fall out of a running count over the GROUP
  relation (cum − n + (n+1)/2) — the only window is over ≤10⁶+1 rows
  (the 6dp score domain), never corpus-proportional. Replaced the
  range-repartition + dense-id + localCheckpoint pin whose build was
  super-linear under memory pressure (sf1→sf10 exponent 1.39).
- deciles: boundaries via EXACT percentile — scale-safe for the same
  reason (the aggregation state is one count per distinct rounded
  score, ≤1e6 entries), then bucket assignment is a map-side CASE
  against 9 literals; swap in approx_percentile only if you drop the
  rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from guagua_spark.operators.iterative import _cached_persisted
from guagua_spark.operators.lr_sql import (
    DECILE_QS as _DECILE_QS,
)
from guagua_spark.operators.lr_sql import (
    scored_ctes,
    sql_inference_cert_ctes,  # noqa: F401  (re-export for splicers)
)
from guagua_spark.sources.tables import load_table, table_fingerprint

#: session memo for the engine-trained model: unlike lr_train (whose
#: POINT is to time the engine run), inference treats the model as an
#: input artifact — built once per table fingerprint, build cost
#: attributed via record_index_build like every other index memo.
_MODEL_CACHE: dict = {}

def clear_caches() -> None:
    _MODEL_CACHE.clear()


def _lr_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # same key + same projection as lr_train → the two share one
    # persisted relation instead of pinning the table twice
    return _cached_persisted(
        "lr",
        sf_dir,
        lambda: load_table(spark, sf_dir, "lineitem").select(
            "l_quantity",
            "l_discount",
            F.when(F.col("l_returnflag") == "R", 1.0)
            .otherwise(0.0)
            .alias("label"),
        ),
    )


def trained_lr_weights(
    spark: SparkSession, sf_dir: str
) -> tuple[float, float, float]:
    """(bias, w_qty, w_disc) from the same 5-iteration engine run
    lr_train certifies, rounded to 6dp — bit-identical to the oracle
    CTE's rounded weights (the rounding rationale lives at
    iterative.lr_train:196)."""
    fp = table_fingerprint(sf_dir, "lineitem")
    hit = _MODEL_CACHE.get(sf_dir)
    if hit is not None and hit[0] == fp:
        return hit[1]
    from guagua_spark import durable

    def build() -> tuple:
        from guagua_spark.algorithms.gradient import (
            GradientDescentMaster,
            LogisticGradientWorker,
        )
        from guagua_spark.engine import IterativeEngine

        model = IterativeEngine(spark).run(
            GradientDescentMaster(dim=2, learning_rate=0.5),
            LogisticGradientWorker(("l_quantity", "l_discount"), "label"),
            _lr_features(spark, sf_dir),
            total_iteration=5,
        )
        return tuple(round(float(x), 6) for x in model.weights)

    weights = durable.durable_model(
        spark,
        "model:lr_weights",
        "model:lr_weights",  # nests features:lr (timed self-time)
        (sf_dir, fp),
        build,
        encode=list,
        decode=tuple,
    )
    _MODEL_CACHE[sf_dir] = (fp, weights)
    return weights


def save_lr_model(spark: SparkSession, name: str, sf_dir: str) -> None:
    """Persist the engine-trained LR model as a catalog table — the
    stored-MODEL analogue of save_lsh_index/save_ivf_index: a new
    session (or another team's scoring job) loads three rows instead of
    re-running 5 training iterations over the corpus. Schema (idx,
    weight) with idx 0 = bias, matching model.weights order.
    Overwrites any previous model of the same name (retrain-and-replace
    — the same overwrite-as-reindex semantics as save_lsh_index /
    save_ivf_index)."""
    w = trained_lr_weights(spark, sf_dir)
    from guagua_spark.functions.scale import save_table

    save_table(
        spark.createDataFrame(
            list(enumerate(w)), "idx int, weight double"
        ),
        name,
    )


def load_lr_model(
    spark: SparkSession, name: str
) -> tuple[float, float, float]:
    """Load a stored model into the literal-weights form every scoring
    op consumes — an O(1) 3-row collect at plan-construction time, so
    the scoring plan is IDENTICAL to the fresh-trained one (weights are
    plan literals either way; test_inference asserts round-trip
    equality)."""
    rows = spark.table(name).orderBy("idx").collect()
    return tuple(r["weight"] for r in rows)


def save_nn_model(spark: SparkSession, name: str, sf_dir: str) -> None:
    """Persist the engine-trained NN as a catalog table — the stored
    form of trained_nn_model, one row per parameter: (layer, kind
    'W'|'b', i, j, value). Any session (or another team's scorer)
    reconstructs the [(W1,b1),(W2,b2)] layout and scores with the SAME
    unrolled plan nn_score_col builds for fresh weights. Overwrites a
    previous model of the same name (retrain-and-replace)."""
    rows = []
    for layer, (w, b) in enumerate(trained_nn_model(spark, sf_dir)):
        for i in range(w.shape[0]):
            for j in range(w.shape[1]):
                rows.append((layer, "W", i, j, float(w[i, j])))
        for j in range(b.shape[0]):
            rows.append((layer, "b", 0, j, float(b[j])))
    from guagua_spark.functions.scale import save_table

    save_table(
        spark.createDataFrame(
            rows, "layer int, kind string, i int, j int, value double"
        ),
        name,
    )


def load_nn_model(spark: SparkSession, name: str):
    """Stored NN model → the [(W,b), ...] numpy layout nn_score_col
    consumes. Driver-sized collect (41 rows for the [4,8,1] net)."""
    import numpy as np

    rows = spark.table(name).collect()
    layers = sorted({r.layer for r in rows})
    out = []
    for layer in layers:
        ws = [r for r in rows if r.layer == layer and r.kind == "W"]
        bs = [r for r in rows if r.layer == layer and r.kind == "b"]
        w = np.zeros((max(r.i for r in ws) + 1, max(r.j for r in ws) + 1))
        for r in ws:
            w[r.i, r.j] = r.value
        b = np.zeros(max(r.j for r in bs) + 1)
        for r in bs:
            b[r.j] = r.value
        out.append((w, b))
    return out


def lr_score_col(
    weights: tuple[float, float, float], activation: str = "sigmoid"
):
    """sigmoid(w·x) over (l_quantity, l_discount) with the weights
    inlined as plan literals, rounded to 6dp (see module docstring) —
    shared by the batch ops and the streaming twin so the two cannot
    drift. Works unchanged on bounded and unbounded relations: it is a
    pure map-side expression.

    ``activation="rational"`` swaps the sigmoid for the libm-free
    σ̃(z) = 0.5 + 0.5·z/(1+|z|) (see nn_score_col) — used ONLY by the
    inf_* certificate rescore (lr_sql.scored_rational_cte is its SQL
    twin); production scoring keeps the real sigmoid."""
    w0, w1, w2 = weights
    z = (
        F.lit(w0)
        + F.lit(w1) * F.col("l_quantity")
        + F.lit(w2) * F.col("l_discount")
    )
    if activation == "rational":
        score = F.lit(0.5) + F.lit(0.5) * z / (F.lit(1.0) + F.abs(z))
    else:
        score = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return F.round(score, 6)


def _scored(
    spark: SparkSession, sf_dir: str, activation: str = "sigmoid"
) -> DataFrame:
    """(label double, score double): pure map-side codegen scoring of
    the persisted feature projection. activation="rational" is the
    certificate rescore (bit-exact across engines by construction)."""
    w = trained_lr_weights(spark, sf_dir)
    return _lr_features(spark, sf_dir).select(
        "label", lr_score_col(w, activation).alias("score")
    )


def _scored_cte() -> str:
    """Oracle twin of trained_lr_weights + _scored: replay training
    (the shared lr_sql CTEs), round the final weights to 6dp, score
    every row."""
    return f"WITH RECURSIVE {scored_ctes()}"


def infer_score_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-separation report: per-label score distribution + decision
    counts at the 0.5 threshold. The shape an eval pipeline checks
    first — are the classes separated at all, and which way does the
    thresholded decision split them."""
    sc = _scored(spark, sf_dir)
    return (
        sc.groupBy(F.col("label").cast("int").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("score").alias("avg_score"),
            F.min("score").alias("min_score"),
            F.max("score").alias("max_score"),
            F.sum((F.col("score") >= 0.5).cast("bigint")).alias(
                "n_flagged"
            ),
        )
        .orderBy("label")
    )


def _score_stats_oracle() -> str:
    return f"""
{_scored_cte()}
SELECT CAST(label AS INT) AS label, COUNT(*) AS n,
       AVG(score) AS avg_score, MIN(score) AS min_score,
       MAX(score) AS max_score,
       SUM(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END) AS n_flagged
FROM sc GROUP BY 1 ORDER BY 1
""".strip()


def _tie_ranked_groups(sc: DataFrame) -> DataFrame:
    """(score, n, np, avg_rank) per distinct 6dp score — the
    tie-averaged-rank relation every rank statistic needs, derived
    WITHOUT materializing per-row ranks.

    avg_rank of a tie group = cum − n + (n+1)/2 where cum is the
    running row count through the group in score order — the same
    identity the oracle's ``o`` CTE uses (lr_sql.auc_rank_ctes), and
    exactly equal to the old dense-id form (min_rid+max_rid)/2 + 1.
    The only window is a running sum OVER the group-by-score relation,
    which the 6dp rounding bounds by the score DOMAIN (≤10⁶+1 rows)
    at any corpus size — the same prefix-sum decomposition proven in
    pipeline_select_within_budget (pipeline.py). This replaced the
    round-6..9 corpus-sized localCheckpoint rank pin, whose build was
    the tree's only super-linear measurement (_index:inference_ranked
    3.35 s → 82.1 s on sf1→sf10): no per-row ids, no checkpoint, no
    range-partition nondeterminism to pin against."""
    from pyspark.sql.window import Window

    g = sc.groupBy("score").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("label").cast("bigint")).alias("np"),
    )
    w = Window.orderBy("score").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return g.select(
        "score",
        "n",
        "np",
        (
            F.sum("n").over(w)
            - F.col("n")
            + (F.col("n") + F.lit(1)) / F.lit(2.0)
        ).alias("avg_rank"),
    )


def _auc_from_scored(sc: DataFrame) -> DataFrame:
    """AUC/n_pos/n_neg rollup over any (label, score) relation —
    shared by infer_auc (real-sigmoid scores) and the inf_auc
    certificate (rational rescore) so the two aggregate one set of
    math."""
    g = _tie_ranked_groups(sc)
    t = g.agg(
        F.sum(F.col("np") * F.col("avg_rank")).alias("spr"),
        F.sum("np").alias("p"),
        F.sum("n").alias("tot"),
    )
    return t.select(
        (
            (F.col("spr") - F.col("p") * (F.col("p") + 1) / F.lit(2.0))
            / (F.col("p") * (F.col("tot") - F.col("p")))
        ).alias("auc"),
        F.col("p").alias("n_pos"),
        (F.col("tot") - F.col("p")).alias("n_neg"),
    )


def infer_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-averaged AUC (Mann-Whitney U) at scale.

    rank sum of positives → AUC = (Σr⁺ − P(P+1)/2) / (P·N), with the
    tie-averaged ranks coming from the domain-bounded group-by-score
    prefix sum (_tie_ranked_groups) — fully shuffle-parallel up to a
    ≤10⁶-row window, zero corpus-sized materialization."""
    return _auc_from_scored(_scored(spark, sf_dir))


def _auc_oracle() -> str:
    # avg rank of a tie group ending at cumulative count `cum` with `n`
    # members = cum − n + (n+1)/2 — the same identity the Spark side
    # computes in _tie_ranked_groups; the rank CTEs and AUC expression
    # are lr_sql's, shared verbatim with the lr_train certificate
    from guagua_spark.operators.lr_sql import AUC_EXPR, auc_rank_ctes

    return f"""
{_scored_cte()},
{auc_rank_ctes("")}
SELECT {AUC_EXPR} AS auc,
       p AS n_pos, (tot - p) AS n_neg
FROM t
""".strip()


def _pr_auc_from_scored(sc: DataFrame) -> DataFrame:
    """Exact average precision (PR-AUC, the step-wise Σ ΔR·P form —
    sklearn's average_precision_score) plus the KS statistic
    max|TPR−FPR|, both derived from the SAME group-by-score relation
    the AUC uses: cumulative TP/row counts in descending score order
    over the ≤10⁶+1-row score domain, never the corpus. Ties are
    handled exactly — a tie block contributes one step with its whole
    Δrecall at the block's precision, which is the threshold-sweep
    definition (a per-row formulation would depend on arbitrary
    within-tie order)."""
    from pyspark.sql.window import Window

    g = sc.groupBy("score").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("label").cast("bigint")).alias("np"),
    )
    tot = g.agg(
        F.sum("np").alias("p"), F.sum("n").alias("tot")
    )
    w = Window.orderBy(F.col("score").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pc = g.crossJoin(F.broadcast(tot)).select(
        "np",
        "p",
        "tot",
        F.sum("np").over(w).alias("ctp"),
        F.sum("n").over(w).alias("cn"),
    )
    tpr = F.col("ctp").cast("double") / F.col("p")
    fpr = (F.col("cn") - F.col("ctp")).cast("double") / (
        F.col("tot") - F.col("p")
    )
    prec = F.col("ctp").cast("double") / F.col("cn")
    return pc.agg(
        F.round(
            F.sum(F.col("np").cast("double") / F.col("p") * prec), 6
        ).alias("pr_auc"),
        F.round(F.max(F.abs(tpr - fpr)), 6).alias("ks"),
        F.max("p").cast("bigint").alias("n_pos"),
        F.max(F.col("tot") - F.col("p")).cast("bigint").alias("n_neg"),
    )


def infer_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PR-AUC + KS report for the trained-LR scores — the two
    threshold-free metrics an imbalanced-label evaluation reads next
    to ROC-AUC (average precision tracks the positive class; KS is the
    classic model-separation score). Same 100 TB shape as infer_auc:
    one corpus-sized partial agg, one domain-bounded window."""
    return _pr_auc_from_scored(_scored(spark, sf_dir))


def _pr_auc_oracle() -> str:
    return f"""
{_scored_cte()},
pg AS (
  SELECT score, COUNT(*) AS n, SUM(CAST(label AS BIGINT)) AS np
  FROM sc GROUP BY score
),
pt AS (SELECT SUM(np) AS p, SUM(n) AS tot FROM pg),
pc AS (
  SELECT np, p, tot,
         SUM(np) OVER (ORDER BY score DESC) AS ctp,
         SUM(n) OVER (ORDER BY score DESC) AS cn
  FROM pg, pt
)
SELECT ROUND(SUM((CAST(np AS DOUBLE)/p)
                 * (CAST(ctp AS DOUBLE)/cn)), 6) AS pr_auc,
       ROUND(MAX(ABS(CAST(ctp AS DOUBLE)/p
                     - CAST(cn - ctp AS DOUBLE)/(tot - p))), 6) AS ks,
       CAST(MAX(p) AS BIGINT) AS n_pos,
       CAST(MAX(tot - p) AS BIGINT) AS n_neg
FROM pc
""".strip()


def infer_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gains table: score deciles (exact-percentile boundaries) →
    volume, mean score, observed positive rate. Bucket assignment is
    `Σ (score > bᵢ)` against 9 plan literals — map-side only.

    Boundary-comparison safety: Spark's `percentile` and DuckDB's
    `quantile_cont` both use type-7 linear interpolation; when the
    boundary interpolates strictly between two adjacent distinct data
    values no row can equal it (nothing sorts between neighbors), and
    when it lands exactly ON a data value both engines return that
    value bit-exactly (g = 0 ⇒ no interpolation arithmetic) — so
    `score > boundary` partitions rows identically even if the two
    engines' interpolation expressions differ in the last ulp."""
    return _deciles_from_scored(_scored(spark, sf_dir))


def _deciles_from_scored(sc: DataFrame) -> DataFrame:
    """The gains-table body over any (label, score) relation — shared
    by infer_deciles and the inf_dec_nwsum certificate (rational
    rescore)."""
    qs = ", ".join(str(q) for q in _DECILE_QS)
    bounds = sc.select(
        F.expr(f"percentile(score, array({qs}))").alias("b")
    ).first()["b"]
    decile = F.lit(0)
    for b in bounds:
        decile = decile + (F.col("score") > F.lit(float(b))).cast("int")
    return (
        sc.groupBy(decile.alias("decile"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("score").alias("avg_score"),
            F.avg("label").alias("pos_rate"),
        )
        .orderBy("decile")
    )


def _deciles_oracle() -> str:
    # the bucket fold is lr_sql's, shared with the certificate splice
    from guagua_spark.operators.lr_sql import decile_bucket_sql

    qs = ", ".join(str(q) for q in _DECILE_QS)
    return f"""
{_scored_cte()},
b AS (SELECT quantile_cont(score, [{qs}]) AS q FROM sc)
SELECT {decile_bucket_sql("q")} AS decile, COUNT(*) AS n,
       AVG(score) AS avg_score, AVG(label) AS pos_rate
FROM sc, b GROUP BY 1 ORDER BY 1
""".strip()


def trained_nn_model(spark: SparkSession, sf_dir: str):
    """Engine-trained NN (same run as iterative.nn_train_gd: [4,8,1],
    plain backprop+momentum, 5 rounds) memoized as an inference input
    artifact — returns the full weight list [(W1,b1),(W2,b2)]."""
    fp = table_fingerprint(sf_dir, "lineitem")
    hit = _MODEL_CACHE.get(("nn", sf_dir))
    if hit is not None and hit[0] == fp:
        return hit[1]
    from guagua_spark import durable

    def build():
        from guagua_spark.algorithms.nn import NNMaster, NNWorker
        from guagua_spark.engine import IterativeEngine
        from guagua_spark.operators.iterative import (
            NN_GD_LAYERS,
            NN_GD_LR,
            NN_GD_ROUNDS,
            _nn_features,
            _nn_partitions,
        )

        li = _cached_persisted(
            "nn",
            sf_dir,
            lambda: _nn_features(spark, sf_dir).repartition(
                _nn_partitions(spark)
            ),
        )
        model = IterativeEngine(spark).run(
            NNMaster(
                NN_GD_LAYERS, learning_rate=NN_GD_LR, algorithm="backprop"
            ),
            NNWorker(
                ("f1", "f2", "f3", "f4"), "target", validation_rate=0.0
            ),
            li,
            total_iteration=NN_GD_ROUNDS,
        )
        return model.weights

    weights = durable.durable_model(
        spark,
        "model:nn_weights",
        "model:nn_weights",  # nests features:nn (timed self-time)
        (sf_dir, fp),
        build,
        encode=lambda ws: [
            [durable.np_to_jsonable(w), durable.np_to_jsonable(b)]
            for w, b in ws
        ],
        decode=lambda ws: [
            (durable.np_from_jsonable(w), durable.np_from_jsonable(b))
            for w, b in ws
        ],
    )
    _MODEL_CACHE[("nn", sf_dir)] = (fp, weights)
    return weights


def nn_score_col(
    weights,
    feature_cols=("f1", "f2", "f3", "f4"),
    activation: str = "sigmoid",
):
    """The NN forward pass (algorithms/nn.py:forward — sigmoid
    throughout, Encog default; NNWorker.java:111-135 parity) UNROLLED
    into a Catalyst expression tree: every weight becomes a plan
    literal, each hidden unit one sigmoid-of-affine expression, the
    output layer one more. For driver-sized models (a [4,8,1] net is
    41 doubles) this keeps batch scoring inside WholeStageCodegen with
    no UDF and no broadcast at all — the model IS the plan. Wider nets
    graduate to an Arrow-batched matmul UDF; this is the
    small-model fast path.

    ``activation="rational"`` swaps every sigmoid for the libm-free
    σ̃(z) = 0.5 + 0.5·z/(1+|z|) — same range, same 0.5 threshold at
    z=0, monotone, pure IEEE +−×÷/abs so it is bit-exact across
    engines. Used ONLY by the nnf_* certificate (the forward-pass
    PLUMBING is identical; production scoring keeps the real
    sigmoid)."""

    if activation == "rational":

        def sig(z):
            return F.lit(0.5) + F.lit(0.5) * z / (F.lit(1.0) + F.abs(z))

    else:

        def sig(z):
            return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))

    (w1, b1), (w2, b2) = weights
    hidden = []
    for j in range(w1.shape[1]):
        z = F.lit(float(b1[j]))
        for i, c in enumerate(feature_cols):
            z = z + F.lit(float(w1[i, j])) * F.col(c)
        hidden.append(sig(z))
    out = F.lit(float(b2[0]))
    for j, h in enumerate(hidden):
        out = out + F.lit(float(w2[j, 0])) * h
    return sig(out)


def infer_nn_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch NN inference: per-label rollup of the forward-pass score
    over the same engineered features nn_train_gd trains on. Tested
    against an independent serial-numpy forward replay (no SQL oracle:
    the weights exist only after the engine run — the numpy replay is
    the same oracle style as the NN optimizer value tests,
    tests/test_nn.py)."""
    from guagua_spark.operators.iterative import (
        _nn_features,
        _nn_partitions,
    )

    w = trained_nn_model(spark, sf_dir)
    li = _cached_persisted(
        "nn",
        sf_dir,
        lambda: _nn_features(spark, sf_dir).repartition(
            _nn_partitions(spark)
        ),
    )
    sc = li.select(
        F.col("target").cast("int").alias("label"),
        nn_score_col(w).alias("score"),
    )
    return (
        sc.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("score").alias("avg_score"),
            F.sum((F.col("score") >= 0.5).cast("bigint")).alias(
                "n_flagged"
            ),
        )
        .orderBy("label")
    )


#: fixed literal models for the array / NN-forward certification —
#: defined in lr_sql (the leaf module) and shared verbatim with the
#: SQL renderers so both sides consume ONE set of literals
from guagua_spark.operators.lr_sql import (  # noqa: E402
    EMB_BIAS,
    EMB_DIM,
    EMB_WEIGHTS,
    NNF_B1,
    NNF_B2,
    NNF_W1,
    NNF_W2,
)


def nnf_fixed_weights():
    """lr_sql's fixed [4,8,1] literals in the [(W1,b1),(W2,b2)] numpy
    layout nn_score_col consumes — the certificate scores with the
    PRODUCTION expression builder, only the weights are fixed."""
    import numpy as np

    w1 = np.array(NNF_W1, dtype=np.float64)
    b1 = np.array(NNF_B1, dtype=np.float64)
    w2 = np.array(NNF_W2, dtype=np.float64).reshape(8, 1)
    b2 = np.array([NNF_B2], dtype=np.float64)
    return [(w1, b1), (w2, b2)]


def _emb_score_col(activation: str = "sigmoid"):
    """Per-row 6dp logistic score over the embedding column — shared
    by the standalone query and the emb_* certificate (SQL twin:
    lr_sql.emb_score_sql). The certificate passes
    ``activation="rational"`` (σ̃(z) = 0.5 + 0.5·z/(1+|z|), libm-free
    — see nn_score_col) so its integers are bit-exact by construction;
    the standalone query keeps the real sigmoid + its rtol oracle."""
    w = F.array(*[F.lit(x) for x in EMB_WEIGHTS])
    dot = F.aggregate(
        F.zip_with(
            F.col("embedding").cast("array<double>"),
            w,
            lambda x, y: x * y,
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    z = F.lit(EMB_BIAS) + dot
    if activation == "rational":
        score = F.lit(0.5) + F.lit(0.5) * z / (F.lit(1.0) + F.abs(z))
    else:
        score = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return F.round(score, 6)


def infer_embedding_scores(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ARRAY-typed batch inference: logistic score over the 64-dim
    embedding column with the model JVM-side — ``zip_with`` (elementwise
    product) + ``aggregate`` (left-to-right fold) keep the dot product
    inside Catalyst, no Python in the loop. This is the scoring plumbing
    for any vector-input model (an embedding classifier, an NN output
    layer): the weights here are fixed literals so the SQL oracle can
    replay the arithmetic exactly (same role as LR_WEIGHTS in the
    lr_gradient_step certification, iterative.py:29-30); a trained
    vector drops in without changing the plan shape.

    Output: per-label rollup — n, mean score, decisions at 0.5 —
    bounded rows whatever the corpus size."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "label", _emb_score_col().alias("score")
    )
    return (
        emb.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("score").alias("avg_score"),
            F.sum((F.col("score") >= 0.5).cast("bigint")).alias(
                "n_flagged"
            ),
        )
        .orderBy("label")
    )


def _embedding_scores_oracle() -> str:
    # list_dot_product folds left-to-right like F.aggregate; weights
    # rendered from the SAME Python list the Spark side uses
    lits = ", ".join(repr(x) for x in EMB_WEIGHTS)
    return f"""
WITH sc AS (
  SELECT label,
         ROUND(1.0/(1.0 + EXP(-({EMB_BIAS!r} + list_dot_product(
           CAST(embedding AS DOUBLE[]), [{lits}])))), 6) AS score
  FROM embeddings
)
SELECT label, COUNT(*) AS n, AVG(score) AS avg_score,
       SUM(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END) AS n_flagged
FROM sc GROUP BY label ORDER BY label
""".strip()


def inference_cert_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of sql_inference_cert_ctes: 1 row built from the
    ACTUAL inference operators' outputs — the trained-LR evaluation
    rollups plus (round 7) the fixed-literal array-scoring and
    NN-forward certificates, each a per-row 6dp score summed at 1e-6
    resolution + a 0.5-threshold decision count (binds both the
    score VALUES and the decision boundary).

    Round 10: the trained-LR columns aggregate the RATIONAL rescore of
    the certified 6dp weights (lr_sql.scored_rational_cte's Spark twin)
    — pure IEEE per-row scores, so no libm call feeds any
    hash-certified aggregate; the real-sigmoid operators keep their
    rtol-gated local oracles (tests/test_inference.py)."""
    from guagua_spark.operators.iterative import _nn_features

    sc_cert = _scored(spark, sf_dir, activation="rational")
    auc = _auc_from_scored(sc_cert).select(
        F.round("auc", 6).alias("inf_auc")
    )
    flag = sc_cert.agg(
        F.sum((F.col("score") >= 0.5).cast("bigint")).alias(
            "inf_flagged"
        )
    )
    dec = _deciles_from_scored(sc_cert).agg(
        F.sum(F.col("decile").cast("bigint") * F.col("n")).alias(
            "inf_dec_nwsum"
        )
    )
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select(_emb_score_col(activation="rational").alias("score"))
        .agg(
            F.sum((F.col("score") >= 0.5).cast("bigint")).alias(
                "emb_flagged"
            ),
            F.sum(F.round(F.col("score") * 1e6).cast("bigint"))
            .cast("bigint")
            .alias("emb_score_e6"),
        )
    )
    nnf = (
        _nn_features(spark, sf_dir)
        .select(
            F.round(
                nn_score_col(
                    nnf_fixed_weights(), activation="rational"
                ),
                6,
            ).alias("score")
        )
        .agg(
            F.sum((F.col("score") >= 0.5).cast("bigint")).alias(
                "nnf_flagged"
            ),
            F.sum(F.round(F.col("score") * 1e6).cast("bigint"))
            .cast("bigint")
            .alias("nnf_score_e6"),
        )
    )
    return (
        auc.crossJoin(flag).crossJoin(dec).crossJoin(emb).crossJoin(nnf)
    )


#: oracle-tested locally (tests/test_inference.py); the 50-slot driver
#: contract is full, and lr_train already certifies the training math
#: these replay — the inference ops add the SCORING layer on top.
LOCAL_QUERIES = {
    "infer_score_stats": infer_score_stats,
    "infer_auc": infer_auc,
    "infer_pr_auc": infer_pr_auc,
    "infer_deciles": infer_deciles,
    "infer_embedding_scores": infer_embedding_scores,
    "infer_nn_scores": infer_nn_scores,  # numpy-replay tested (no SQL)
}

LOCAL_ORACLE_SQL = {
    "infer_score_stats": _score_stats_oracle(),
    "infer_auc": _auc_oracle(),
    "infer_pr_auc": _pr_auc_oracle(),
    "infer_deciles": _deciles_oracle(),
    "infer_embedding_scores": _embedding_scores_oracle(),
}
