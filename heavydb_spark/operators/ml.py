"""ML table functions (SURVEY.md §2.10: MLTableFunctions.hpp —
kmeans, linear_reg_fit/coefs, ml_reg_predict, r2_score, pca_fit).

Two tiers:
- closed-form single-feature regression + r2: plain aggregates
  (covar/var), fully distributed, oracle-checkable against DuckDB's
  regr_* functions;
- pyspark.ml pipelines (KMeans, multi-feature LinearRegression, PCA):
  the MLlib path (gated behind import-try; rows-only verification).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def linear_reg_fit(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Single-feature OLS via moment aggregates — one distributed agg,
    no driver math. Mirrors linear_reg_fit/linear_reg_coefs output
    (coef_idx, coef): idx 0 = intercept, 1 = slope."""
    stats = df.agg(
        F.covar_samp(x_col, y_col).alias("cxy"),
        F.var_samp(x_col).alias("vx"),
        F.avg(x_col).alias("mx"),
        F.avg(y_col).alias("my"),
    )
    slope = F.col("cxy") / F.col("vx")
    return stats.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("coef_idx"),
                    (F.col("my") - slope * F.col("mx")).alias("coef"),
                ),
                F.struct(F.lit(1).alias("coef_idx"), slope.alias("coef")),
            )
        ).alias("c")
    ).select("c.coef_idx", "c.coef")


def kmeans_fit(
    df: DataFrame,
    vec_col: str,
    k: int = 4,
    seed: int = 42,
    max_iter: int = 10,
) -> DataFrame:
    """tf_kmeans analogue over an array<float> column via pyspark.ml.
    Returns (id-preserving) cluster assignments."""
    try:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector
    except ImportError as exc:  # pragma: no cover
        raise NotImplementedError("pyspark.ml unavailable") from exc

    feat = df.withColumn("features", array_to_vector(F.col(vec_col)))
    model = KMeans(k=k, seed=seed, maxIter=max_iter).fit(feat)
    return model.transform(feat).drop("features").withColumnRenamed(
        "prediction", "cluster_id"
    )


def pca_project(
    df: DataFrame, vec_col: str, k: int = 2
) -> DataFrame:
    """PCA_PROJECT analogue (MLPredictCodegen.cpp / PCA table fns)."""
    try:
        from pyspark.ml.feature import PCA
        from pyspark.ml.functions import array_to_vector, vector_to_array
    except ImportError as exc:  # pragma: no cover
        raise NotImplementedError("pyspark.ml unavailable") from exc

    feat = df.withColumn("features", array_to_vector(F.col(vec_col)))
    model = PCA(k=k, inputCol="features", outputCol="pca").fit(feat)
    return (
        model.transform(feat)
        .withColumn("pca_arr", vector_to_array(F.col("pca")))
        .drop("features", "pca")
    )


def tree_reg_fit_predict(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    kind: str = "random_forest",
    seed: int = 42,
) -> DataFrame:
    """decision_tree/gbt/random_forest_reg_fit + ml_reg_predict
    (MLTableFunctions.hpp) via pyspark.ml regressors: fit on the input,
    return (row features..., prediction). Distributed fit; prediction is
    a model.transform (JVM-side), never a driver loop."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import (
        DecisionTreeRegressor,
        GBTRegressor,
        RandomForestRegressor,
    )

    reg_cls = {
        "decision_tree": DecisionTreeRegressor,
        "gbt": GBTRegressor,
        "random_forest": RandomForestRegressor,
    }[kind]
    va = VectorAssembler(inputCols=feature_cols, outputCol="features")
    assembled = va.transform(df)
    kwargs = {"labelCol": label_col, "featuresCol": "features", "seed": seed}
    model = reg_cls(**kwargs).fit(assembled)
    return model.transform(assembled).select(
        *feature_cols, label_col, F.col("prediction")
    )


def r2_score(df: DataFrame, label_col: str, pred_col: str) -> DataFrame:
    """r2_score UDTF analogue: 1 - SS_res/SS_tot as one aggregate."""
    mean_y = F.avg(label_col)
    ss_res = F.sum(
        (F.col(label_col) - F.col(pred_col)) * (F.col(label_col) - F.col(pred_col))
    )
    stats = df.agg(
        ss_res.alias("ss_res"),
        F.sum(F.col(label_col) * F.col(label_col)).alias("syy"),
        F.sum(label_col).alias("sy"),
        F.count(F.lit(1)).alias("n"),
    )
    ss_tot = F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")
    return stats.select((1 - F.col("ss_res") / ss_tot).alias("r2"))


def dbscan(
    df: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    eps: float,
    min_pts: int = 4,
    max_iter: int = 20,
) -> DataFrame:
    """dbscan UDTF analogue (MLTableFunctions.hpp) for 2-D points,
    expressed as relational operators:

    1. neighbor pairs via the grid-cell range join (operators/spatial.py
       shape — 3x3 neighbor-cell equi-join + exact distance, never a
       cross join);
    2. core points = points with >= min_pts neighbors (incl. self);
    3. clusters = connected components over core-core edges, computed by
       iterative min-label propagation (each round one join + groupBy;
       rounds ~ graph diameter, looped with persist + convergence count);
    4. border points adopt the min cluster label of any neighboring core;
       noise keeps label -1.

    Returns (id, cluster) with cluster = min point id in the component
    (stable, engine-independent), -1 for noise.
    """
    from heavydb_spark.operators.spatial import range_join

    pts = df.select(
        F.col(id_col).alias("pid"),
        F.col(x_col).cast("double").alias("px"),
        F.col(y_col).cast("double").alias("py"),
    )
    a = pts.toDF("id_a", "xa", "ya")
    b = pts.toDF("id_b", "xb", "yb")
    # localCheckpoint (not persist) for every reused relation: blocks
    # are dropped on GC, so repeated dbscan calls don't leak cache
    # entries (persist would need an unpersist the lazily-returned
    # result cannot schedule)
    pairs = range_join(
        a, b, radius=eps, left_point=("xa", "ya"), right_point=("xb", "yb")
    ).select("id_a", "id_b").localCheckpoint(eager=False)

    deg = pairs.groupBy("id_a").agg(F.count(F.lit(1)).alias("deg"))
    core = deg.filter(F.col("deg") >= min_pts).select(
        F.col("id_a").alias("cid")
    ).localCheckpoint(eager=False)

    cc = pairs.join(core.withColumnRenamed("cid", "id_a"), "id_a").join(
        core.withColumnRenamed("cid", "id_b"), "id_b"
    ).select("id_a", "id_b")
    labels = core.select(F.col("cid").alias("node"), F.col("cid").alias("label"))
    for _ in range(max_iter):
        prop = (
            cc.join(labels, cc.id_b == labels.node)
            .groupBy(F.col("id_a").alias("node"))
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(prop, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break

    border = (
        pairs.join(core.withColumnRenamed("cid", "id_b"), "id_b")
        .join(labels.withColumnRenamed("node", "id_b"), "id_b")
        .groupBy(F.col("id_a").alias("pid2"))
        .agg(F.min("label").alias("border_label"))
    )
    out = (
        pts.join(labels.withColumnRenamed("node", "pid"), "pid", "left")
        .join(border.withColumnRenamed("pid2", "pid"), "pid", "left")
        .select(
            F.col("pid").alias(id_col),
            F.coalesce("label", "border_label", F.lit(-1)).alias("cluster"),
        )
    )
    return out


def supported_ml_frameworks(spark) -> DataFrame:
    """supported_ml_frameworks UDTF (MLTableFunctions.hpp): one row per
    available ML backend with availability/default flags — here the
    Spark MLlib backend plus the closed-form aggregate path."""
    try:
        import pyspark.ml  # noqa: F401

        mllib_ok = True
    except ImportError:  # pragma: no cover
        mllib_ok = False
    return spark.createDataFrame(
        [("spark-mllib", mllib_ok, True), ("closed-form-agg", True, False)],
        "ml_framework string, available boolean, is_default boolean",
    )


def linear_reg_fit2(
    df: DataFrame, x1_col: str, x2_col: str, y_col: str
) -> DataFrame:
    """Two-feature OLS via the closed-form normal equations on sample
    (co)variances — one distributed aggregate and a symbolic 2x2
    solve, so unlike the MLlib path it is exactly reproducible and
    oracle-checkable. Output matches linear_reg_coefs
    (MLTableFunctions.hpp): (coef_idx, coef), idx 0 = intercept.
    """
    s = df.agg(
        F.var_samp(x1_col).alias("v11"),
        F.var_samp(x2_col).alias("v22"),
        F.covar_samp(x1_col, x2_col).alias("v12"),
        F.covar_samp(x1_col, y_col).alias("c1"),
        F.covar_samp(x2_col, y_col).alias("c2"),
        F.avg(x1_col).alias("m1"),
        F.avg(x2_col).alias("m2"),
        F.avg(y_col).alias("my"),
    )
    det = F.col("v11") * F.col("v22") - F.col("v12") * F.col("v12")
    b1 = (F.col("v22") * F.col("c1") - F.col("v12") * F.col("c2")) / det
    b2 = (F.col("v11") * F.col("c2") - F.col("v12") * F.col("c1")) / det
    b0 = F.col("my") - b1 * F.col("m1") - b2 * F.col("m2")
    return s.select(
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("coef_idx"), b0.alias("coef")),
                F.struct(F.lit(1).alias("coef_idx"), b1.alias("coef")),
                F.struct(F.lit(2).alias("coef_idx"), b2.alias("coef")),
            )
        ).alias("c")
    ).select("c.coef_idx", "c.coef")


def forest_var_importance(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    seed: int = 42,
) -> DataFrame:
    """random_forest_reg_fit(..., var_importance=true)
    (MLTableFunctions.hpp): per-feature Gini/variance importance of a
    fitted forest. The fit is MLlib-distributed; importances are
    model metadata (feature-count-sized), emitted as a DataFrame."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import RandomForestRegressor

    va = VectorAssembler(inputCols=feature_cols, outputCol="features")
    assembled = va.transform(df.select(*feature_cols, label_col))
    model = RandomForestRegressor(
        labelCol=label_col, featuresCol="features", seed=seed
    ).fit(assembled)
    imps = model.featureImportances.toArray().tolist()
    spark = df.sparkSession
    return spark.createDataFrame(
        [(f, float(i)) for f, i in zip(feature_cols, imps)],
        "feature string, importance double",
    )


def get_decision_trees(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    num_trees: int = 5,
    seed: int = 42,
) -> DataFrame:
    """get_decision_trees (MLTableFunctions.hpp): per-tree structure of
    a fitted forest — (tree_id, num_nodes, depth, weight). Model
    metadata is O(trees), so emitting it from the driver is the same
    metadata-sized step the reference performs."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import RandomForestRegressor

    va = VectorAssembler(inputCols=feature_cols, outputCol="features")
    assembled = va.transform(df.select(*feature_cols, label_col))
    model = RandomForestRegressor(
        labelCol=label_col, featuresCol="features", numTrees=num_trees,
        seed=seed,
    ).fit(assembled)
    rows = [
        (i, t.numNodes, t.depth, float(w))
        for i, (t, w) in enumerate(zip(model.trees, model.treeWeights))
    ]
    spark = df.sparkSession
    return spark.createDataFrame(
        rows, "tree_id int, num_nodes int, depth int, weight double"
    )


def pca_fit(df: DataFrame, vec_col: str, k: int = 2) -> DataFrame:
    """pca_fit (MLTableFunctions.hpp PCA model build): loading matrix +
    explained variance of the top-k components as rows
    (component_idx, feature_idx, loading, explained_variance)."""
    try:
        from pyspark.ml.feature import PCA
        from pyspark.ml.functions import array_to_vector
    except ImportError as exc:  # pragma: no cover
        raise NotImplementedError("pyspark.ml unavailable") from exc

    feat = df.withColumn("features", array_to_vector(F.col(vec_col)))
    model = PCA(k=k, inputCol="features", outputCol="pca").fit(feat)
    pc = model.pc.toArray()  # (n_features, k)
    ev = model.explainedVariance.toArray()
    rows = [
        (c, f, float(pc[f][c]), float(ev[c]))
        for c in range(pc.shape[1])
        for f in range(pc.shape[0])
    ]
    spark = df.sparkSession
    return spark.createDataFrame(
        rows,
        "component_idx int, feature_idx int, loading double,"
        " explained_variance double",
    )


# ------------------------------------------------------ model-DDL specs
#
# CREATE MODEL ... OF TYPE DECISION_TREE_REG / GBT_REG /
# RANDOM_FOREST_REG (MLModelType.h:25) registers the FITTED tree
# structure so ML_PREDICT can inline it as a nested-CASE SQL expression
# (MLPredictCodegen.cpp inlines tree models into the row kernel the
# same way). pyspark.ml exposes node structure only through
# toDebugString, whose `If (feature N <= T)` grammar is stable for
# continuous features — parsed here into plain dict nodes.

import re as _re

_TREE_SPLIT_RE = _re.compile(r"If \(feature (\d+) <= (.+)\)$")
_TREE_HDR_RE = _re.compile(r"Tree (\d+) \(weight (.+)\):$")


def _parse_tree_lines(lines: list[str], i: int):
    line = lines[i].strip()
    if line.startswith("Predict:"):
        return {"predict": float(line.split(":", 1)[1])}, i + 1
    m = _TREE_SPLIT_RE.match(line)
    if not m:
        raise NotImplementedError(
            f"unsupported split form (categorical feature?): {line!r}"
        )
    left, i = _parse_tree_lines(lines, i + 1)
    if not lines[i].strip().startswith("Else"):
        raise ValueError(f"expected Else branch, got {lines[i]!r}")
    right, i = _parse_tree_lines(lines, i + 1)
    return {
        "feature": int(m.group(1)),
        "threshold": float(m.group(2)),
        "left": left,
        "right": right,
    }, i


def parse_tree_debug(debug: str) -> tuple[list[dict], list[float]]:
    """pyspark.ml toDebugString -> ([tree nodes], [tree weights])."""
    lines = [l for l in debug.splitlines() if l.strip()]
    body = lines[1:]  # drop the "<Model>: uid=..." header
    if not body:
        raise ValueError("empty tree debug string")
    if _TREE_HDR_RE.match(body[0].strip()):
        trees, weights, i = [], [], 0
        while i < len(body):
            m = _TREE_HDR_RE.match(body[i].strip())
            if not m:
                raise ValueError(f"expected tree header, got {body[i]!r}")
            weights.append(float(m.group(2)))
            node, i = _parse_tree_lines(body, i + 1)
            trees.append(node)
        return trees, weights
    node, _ = _parse_tree_lines(body, 0)
    return [node], [1.0]


def tree_model_spec(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    kind: str = "random_forest",
    seed: int = 42,
    max_depth: int = 4,
    num_trees: int | None = None,
) -> tuple[list[dict], list[float], bool, list[float]]:
    """Fit a tree-ensemble regressor and return (trees, weights,
    average?, feature_importances) for SQL inlining. GBT predicts
    sum(w_i * t_i); a forest averages; a single decision tree is the
    degenerate ensemble. Importances are the fitted model's
    impurity-based scores (SHOW MODEL FEATURE DETAILS surface)."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import (
        DecisionTreeRegressor,
        GBTRegressor,
        RandomForestRegressor,
    )

    va = VectorAssembler(inputCols=feature_cols, outputCol="features")
    assembled = va.transform(df.select(*feature_cols, label_col))
    kwargs = {
        "labelCol": label_col,
        "featuresCol": "features",
        "seed": seed,
        "maxDepth": int(max_depth),
    }
    if kind == "decision_tree":
        model = DecisionTreeRegressor(**kwargs).fit(assembled)
    elif kind == "gbt":
        if num_trees is not None:
            kwargs["maxIter"] = int(num_trees)
        model = GBTRegressor(**kwargs).fit(assembled)
    elif kind == "random_forest":
        if num_trees is not None:
            kwargs["numTrees"] = int(num_trees)
        model = RandomForestRegressor(**kwargs).fit(assembled)
    else:
        raise ValueError(f"unknown tree model kind {kind!r}")
    trees, weights = parse_tree_debug(model.toDebugString)
    n_nodes = sum(_count_nodes(t) for t in trees)
    if n_nodes > 50_000:
        raise ValueError(
            f"tree ensemble has {n_nodes} nodes — too large to inline as "
            "a SQL expression; lower MAX_TREE_DEPTH/NUM_TREES or use "
            "operators/ml.tree_reg_fit_predict (model.transform path)"
        )
    importances = [float(v) for v in model.featureImportances.toArray()]
    return trees, weights, kind == "random_forest", importances


def _count_nodes(node: dict) -> int:
    if "predict" in node:
        return 1
    return 1 + _count_nodes(node["left"]) + _count_nodes(node["right"])


def pca_model_spec(
    df: DataFrame, feature_cols: list[str], k: int | None = None
) -> tuple[list[list[float]], list[float]]:
    """Fit PCA over the given numeric columns; return (loadings
    [n_features x k], explained_variance [k])."""
    try:
        from pyspark.ml.feature import PCA
        from pyspark.ml.functions import array_to_vector
    except ImportError as exc:  # pragma: no cover
        raise NotImplementedError("pyspark.ml unavailable") from exc

    k = k or len(feature_cols)
    arr = F.array(*[F.col(c).cast("double") for c in feature_cols])
    feat = df.select(array_to_vector(arr).alias("features"))
    model = PCA(k=int(k), inputCol="features", outputCol="pca").fit(feat)
    pc = model.pc.toArray()  # (n_features, k)
    ev = model.explainedVariance.toArray()
    return [list(map(float, row)) for row in pc], [float(v) for v in ev]
