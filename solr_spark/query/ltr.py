"""Learning-to-rank rerank ({!ltr}) compiled to Catalyst expressions.

Reference: solr/contrib/ltr — `{!ltr model=m reRankDocs=N efi...}` wired by
LTRQParserPlugin; LTRRescorer.java:221 REPLACES the window docs' scores
with the model score (hit.score = scorer.score()) and re-sorts the window,
docs beyond reRankDocs keep their original score and order below; feature
classes (feature/OriginalScoreFeature.java, FieldValueFeature.java,
ValueFeature.java, FieldLengthFeature.java); normalizers (norm/
MinMaxNormalizer.java (v-min)/(max-min), StandardNormalizer.java
(v-avg)/std, IdentityNormalizer.java); models:

- LinearModel.java:118-123 — dot(weights, normalized feature vector).
- MultipleAdditiveTreesModel.java:285-300 — Σ_trees weight·leaf(tree),
  split rule ``feature <= threshold → left``, where every parsed threshold
  gets NODE_SPLIT_SLACK = 1e-6 added (lines 125,152) — reproduced here so
  boundary-valued features route identically.

Spark-first: a feature is a named Column expression over the rerank-window
frame (original ``score`` + any joined doc fields); a model COMPILES to one
Catalyst expression (the tree ensemble becomes nested CASE WHEN), so the
entire rerank is whole-stage-codegen — no UDF, no driver loop, no
per-document Python. Missing/null features evaluate as 0.0 (the reference
Feature defaultValue default). A production LambdaMART with thousands of
nodes would blow up codegen; past ``_MAX_CODEGEN_NODES`` total nodes the
compiled expression is still correct but consider batching trees into
several columns — documented, not auto-switched.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

NODE_SPLIT_SLACK = 1e-6
_MAX_CODEGEN_NODES = 10_000


# --------------------------------------------------------------------------
# Normalizers (norm/*.java) — Column -> Column
# --------------------------------------------------------------------------


def minmax_norm(lo: float, hi: float) -> Callable[[Column], Column]:
    """(v - min) / (max - min) — MinMaxNormalizer.java."""
    if hi == lo:
        raise ValueError("minmax normalizer needs max != min")
    return lambda c: (c - F.lit(float(lo))) / F.lit(float(hi - lo))


def standard_norm(avg: float, std: float) -> Callable[[Column], Column]:
    """(v - avg) / std — StandardNormalizer.java."""
    if std <= 0:
        raise ValueError("standard normalizer needs std > 0")
    return lambda c: (c - F.lit(float(avg))) / F.lit(float(std))


def _normed(features: dict[str, Column], norms: dict | None) -> dict[str, Column]:
    out = {}
    for name, col in features.items():
        c = F.coalesce(col.cast("double"), F.lit(0.0))
        if norms and name in norms:
            c = norms[name](c)
        out[name] = c
    return out


# --------------------------------------------------------------------------
# Models
# --------------------------------------------------------------------------


@dataclass
class LinearModel:
    """LinearModel.java: score = Σ weight_f · norm_f(feature_f)."""

    weights: dict[str, float]
    norms: dict[str, Callable[[Column], Column]] | None = None

    def compile(self, features: dict[str, Column]) -> Column:
        missing = set(self.weights) - set(features)
        if missing:
            raise ValueError(f"model references undefined features: {sorted(missing)}")
        nf = _normed(features, self.norms)
        expr = F.lit(0.0)
        for name, w in self.weights.items():
            expr = expr + F.lit(float(w)) * nf[name]
        return expr


@dataclass
class TreesModel:
    """MultipleAdditiveTreesModel.java: score = Σ tree_weight · leaf value.

    ``trees`` is a list of {"weight": w, "root": node}; a node is either a
    leaf {"value": v} or a split {"feature": name, "threshold": t,
    "left": node, "right": node}. Split rule: feature <= t + 1e-6 → left
    (NODE_SPLIT_SLACK applied at model build, like the reference's parse).
    """

    trees: list[dict]
    norms: dict[str, Callable[[Column], Column]] | None = None
    _n_nodes: int = field(default=0, repr=False)

    def _node(self, node: dict, nf: dict[str, Column]) -> Column:
        self._n_nodes += 1
        if self._n_nodes > _MAX_CODEGEN_NODES:
            raise ValueError(
                f"tree ensemble exceeds {_MAX_CODEGEN_NODES} nodes — too "
                "large to compile to a single codegen expression; split the "
                "ensemble into batched columns"
            )
        if "value" in node:
            return F.lit(float(node["value"]))
        feat = node["feature"]
        if feat not in nf:
            raise ValueError(f"tree references undefined feature {feat!r}")
        thr = float(node["threshold"]) + NODE_SPLIT_SLACK
        return F.when(
            nf[feat] <= F.lit(thr), self._node(node["left"], nf)
        ).otherwise(self._node(node["right"], nf))

    def compile(self, features: dict[str, Column]) -> Column:
        if not self.trees:
            raise ValueError("model contains no trees")
        nf = _normed(features, self.norms)
        self._n_nodes = 0
        expr = F.lit(0.0)
        for t in self.trees:
            expr = expr + F.lit(float(t.get("weight", 1.0))) * self._node(
                t["root"], nf
            )
        return expr


def from_solr_json(model: dict) -> LinearModel | TreesModel:
    """Load a model from Solr's managed-model JSON shape
    (ManagedModelStore; examples in LinearModel.java:40-60 and
    MultipleAdditiveTreesModel.java:40-70). Normalizers in the ``features``
    list are honored (Identity/MinMax/Standard)."""
    norms: dict[str, Callable[[Column], Column]] = {}
    for f in model.get("features", []):
        n = f.get("norm")
        if not n:
            continue
        cls = n.get("class", "")
        p = {k: float(v) for k, v in n.get("params", {}).items()}
        if cls.endswith("MinMaxNormalizer"):
            norms[f["name"]] = minmax_norm(p["min"], p["max"])
        elif cls.endswith("StandardNormalizer"):
            norms[f["name"]] = standard_norm(p["avg"], p["std"])
        elif not cls.endswith("IdentityNormalizer"):
            raise ValueError(f"unknown normalizer class {cls!r}")
    cls = model.get("class", "")
    params = model.get("params", {})
    if cls.endswith("LinearModel"):
        return LinearModel(
            {k: float(v) for k, v in params["weights"].items()}, norms or None
        )
    if cls.endswith("MultipleAdditiveTreesModel"):

        def conv(node: dict) -> dict:
            if "value" in node:
                return {"value": float(node["value"])}
            return {
                "feature": node["feature"],
                # raw threshold: TreesModel.compile adds the slack
                "threshold": float(node["threshold"]),
                "left": conv(node["left"]),
                "right": conv(node["right"]),
            }

        return TreesModel(
            [
                {"weight": float(t.get("weight", 1.0)), "root": conv(t["root"])}
                for t in params["trees"]
            ],
            norms or None,
        )
    raise ValueError(f"unknown model class {cls!r}")


# --------------------------------------------------------------------------
# Rerank
# --------------------------------------------------------------------------


def ltr_feature_log(
    main_scored: DataFrame,
    doc_features: DataFrame | None,
    features: dict[str, Column],
    rerank_docs: int = 200,
    norms: dict | None = None,
) -> DataFrame:
    """The `[features]` doc transformer (contrib/ltr
    response/transform/LTRFeatureLoggerTransformerFactory.java): extract
    and return every feature's (normalized) value for the rerank-window
    docs — the feature-logging side of an LTR training loop. Returns
    (docid, score, <one DOUBLE column per feature>); the same Catalyst
    feature expressions the models compile against, so logged values match
    what a model would consume exactly. Missing/null features log 0.0
    (Feature defaultValue)."""
    window = main_scored.orderBy(
        F.col("score").desc(), F.col("docid").asc()
    ).limit(rerank_docs)
    if doc_features is not None:
        window = window.join(doc_features, "docid", "left")
    nf = _normed(features, norms)  # _normed already applies the 0.0 default
    return window.select("docid", "score", *[c.alias(n) for n, c in nf.items()])


def ltr_rerank(
    main_scored: DataFrame,
    doc_features: DataFrame | None,
    features: dict[str, Column],
    model: LinearModel | TreesModel,
    rerank_docs: int = 200,
    k: int = 10,
) -> DataFrame:
    """`{!ltr}` rerank: the model score REPLACES the original score for the
    top ``rerank_docs`` of ``main_scored`` (docid, score); those docs sort
    first by model score, any remainder keeps its original score and sorts
    below (LTRRescorer.java semantics). ``doc_features`` (optional,
    docid-keyed) supplies the stored-field columns the feature expressions
    reference; the original score is available to features as
    ``F.col("score")`` (OriginalScoreFeature)."""
    window = main_scored.orderBy(
        F.col("score").desc(), F.col("docid").asc()
    ).limit(rerank_docs)
    # The window is referenced three times below (model input, its docid
    # set for the anti-join, and implicitly by `rest`); without a lineage
    # cut Spark would re-run the full main query per reference. It is at
    # most rerank_docs rows — materialize it once.
    window = window.localCheckpoint(eager=True)
    win_ids = window.select("docid")
    n_win = window.count()  # cheap: counts the checkpointed rows
    if doc_features is not None:
        window = window.join(doc_features, "docid", "left")
    reranked = window.select(
        "docid",
        model.compile(features).alias("score"),
        F.lit(1).alias("_w"),
    )
    if n_win >= k:
        # every reranked doc sorts above the remainder, so the top-k comes
        # entirely from the window — skip the second main-query scan.
        return (
            reranked.orderBy(F.col("score").desc(), F.col("docid").asc())
            .limit(k)
            .drop("_w")
        )
    rest = (
        main_scored.join(win_ids, "docid", "left_anti")
        .select("docid", "score", F.lit(0).alias("_w"))
    )
    return (
        reranked.unionByName(rest)
        .orderBy(
            F.col("_w").desc(), F.col("score").desc(), F.col("docid").asc()
        )
        .limit(k)
        .drop("_w")
    )
