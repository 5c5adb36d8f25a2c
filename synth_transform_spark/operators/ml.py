"""Text-classification pipeline on Spark ML (notebook-analytics parity).

Reference lineage: /root/reference/notebooks/classifiers.ipynb cells 12-18
(TfidfVectorizer + LinearSVC over output titles) and outliers.ipynb cells
3-5 (same vectoriser + SVC probability → z-score outliers). Re-expressed
Spark-first:

- tokenisation = the reference's lowercase/strip-non-alpha regex (cell 12)
  as Catalyst expressions (no spaCy dependency and no POS filter;
  SURVEY.md §2.8 F16 documents the approximation);
- TF-IDF = HashingTF + IDF (distributed, no vocabulary broadcast at 100 TB;
  CountVectorizer is the exact-parity alternative when the vocab fits);
- classifier = multinomial LogisticRegression (multi-class; the notebook's
  LinearSVC is binary-per-class — OneVsRest(LinearSVC) is the drop-in when
  exact parity matters).

Training is iterative (not SQL-expressible) → the registry entry has no
oracle; the driver records the weaker rows-only check (allowed for
iterative algorithms), and tests assert determinism + accuracy floors.

The pickled-model surface (PickledTextScorer / score_pickled /
probability_outliers / outlier_top_tokens) replays the reference's actual
outlier workflow — score with the EXISTING shipped model, then z-score —
see the section comment below.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

TOKEN_PATTERN = "[^a-z ]"


def tokens_col(text_col: str):
    """Reference tokeniser (classifiers.ipynb cell 12): lowercase, strip
    non-letters, split, drop empties/len-1 tokens."""
    cleaned = F.regexp_replace(F.lower(F.col(text_col)), TOKEN_PATTERN, " ")
    return F.filter(F.split(cleaned, " +"), lambda t: F.length(t) > 1)


def build_pipeline(
    n_features: int = 1 << 12,
    max_iter: int = 25,
    reg: float = 0.01,
    family: str = "lr",
):
    """HashingTF → IDF → classifier pipeline (unfitted).

    family='lr'  → multinomial LogisticRegression (probability output —
                   feeds the z-score outlier workflow);
    family='svc' → OneVsRest(LinearSVC), the Spark ML twin of the
                   reference's actual model family (classifiers.ipynb
                   cells 12-18 train an sklearn SVC; sklearn's multiclass
                   SVC is itself one-vs-one/one-vs-rest over binary SVMs,
                   so OneVsRest over linear SVMs is the closest-parity
                   distributed re-expression).
    """
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LinearSVC, LogisticRegression, OneVsRest
    from pyspark.ml.feature import IDF, HashingTF, StringIndexer

    if family == "svc":
        clf = OneVsRest(
            classifier=LinearSVC(maxIter=max_iter, regParam=reg),
            labelCol="label",
            featuresCol="features",
        )
    else:
        clf = LogisticRegression(maxIter=max_iter, regParam=reg, family="multinomial")
    return Pipeline(
        stages=[
            StringIndexer(inputCol="label_str", outputCol="label", handleInvalid="keep"),
            HashingTF(inputCol="tokens", outputCol="tf", numFeatures=n_features),
            IDF(inputCol="tf", outputCol="features"),
            clf,
        ]
    )


def prepare(docs: DataFrame, text_col: str = "text", label_col: str = "lang") -> DataFrame:
    return docs.select(
        "doc_id",
        F.col(label_col).alias("label_str"),
        tokens_col(text_col).alias("tokens"),
    )


def train_and_predict(
    docs: DataFrame,
    text_col: str = "text",
    label_col: str = "lang",
    holdout_mod: int = 5,
    family: str = "lr",
) -> DataFrame:
    """Train on ~80% (doc_id % holdout_mod != 0), predict the holdout.

    Deterministic split via the id hash, not RNG, so results are stable
    across partitionings and engines. Returns per-row
    (doc_id, label_str, predicted_str, correct) over the holdout — the
    driver's rows-only check sees a stable schema, and accuracy floors are
    asserted in tests/test_ml.py (on a label the bag-of-words model can
    actually learn; the synthetic ``lang`` column carries no text signal).

    ``family`` selects the classifier (see build_pipeline) — 'svc' gives
    the reference's actual model family with the identical verdict schema.
    """
    prepped = prepare(docs, text_col, label_col)
    train = prepped.filter(F.col("doc_id") % holdout_mod != 0)
    test = prepped.filter(F.col("doc_id") % holdout_mod == 0)
    model = build_pipeline(family=family).fit(train)
    if family == "svc":
        # LinearSVC's training summary holds a SparkSession reference in a
        # NON-transient field (unlike LogisticRegression's), so
        # model.transform's task closure drags the session into executor
        # serialization — which fails whenever the session's lazy
        # observationManager has been initialized (any Observation use
        # anywhere in the session, e.g. operators/observability). A
        # persistence round-trip drops the summaries; models are tiny.
        import shutil
        import tempfile

        from pyspark.ml import PipelineModel

        tmp = tempfile.mkdtemp(prefix="svc_model_")
        try:
            model.write().overwrite().save(tmp)
            model = PipelineModel.load(tmp)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    labels = model.stages[0].labelsArray[0]
    idx_to_label = F.array(*[F.lit(l) for l in labels])
    return (
        model.transform(test)
        .withColumn(
            "predicted_str",
            F.when(
                F.col("prediction").cast("int") < len(labels),
                F.element_at(idx_to_label, F.col("prediction").cast("int") + 1),
            ).otherwise(F.lit("__unknown__")),
        )
        .select(
            "doc_id",
            "label_str",
            "predicted_str",
            (F.col("label_str") == F.col("predicted_str")).cast("long").alias("correct"),
        )
    )


def train_and_score(
    docs: DataFrame,
    text_col: str = "text",
    label_col: str = "lang",
    holdout_mod: int = 5,
) -> DataFrame:
    """Confusion rollup (label_str, predicted_str, n) over the holdout —
    thin aggregation over ``train_and_predict``."""
    return (
        train_and_predict(docs, text_col, label_col, holdout_mod)
        .groupBy("label_str", "predicted_str")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Pickled-model scoring (outliers.ipynb cells 4-6): the reference's actual
# outlier workflow applies a SHIPPED vectoriser + classifier (pickle files),
# takes max predict_proba per row, z-scores the probabilities, and inspects
# outlier tokens. Re-expressed Spark-first: the fitted model is exported to
# a small picklable scorer (vocabulary + idf + logistic weights — plain
# numpy, no sklearn/Spark classes inside the pickle), broadcast to
# executors, and applied in an Arrow-batched mapInPandas stage; the z-score
# and token rollup are the existing JVM-side operators.
# ---------------------------------------------------------------------------


class PickledTextScorer:
    """Portable text classifier: vocab counts × idf → logistic softmax.

    Built from a fitted export pipeline (``export_pickled_model``); the
    pickle carries only lists/ndarrays so any Python environment with numpy
    can score — the cluster never needs the training libraries, exactly the
    property the reference's vectoriser.pkl/svc.model artifacts have.
    """

    def __init__(self, vocab, idf, coef, intercept, labels):
        self.vocab = list(vocab)
        self.idf = idf
        self.coef = coef  # (n_classes, n_features)
        self.intercept = intercept  # (n_classes,)
        self.labels = list(labels)

    def predict_proba(self, token_lists):
        """(predicted_label_list, max_probability_array) for a batch."""
        import numpy as np

        index = {t: i for i, t in enumerate(self.vocab)}
        x = np.zeros((len(token_lists), len(self.vocab)))
        for r, toks in enumerate(token_lists):
            for t in toks:
                i = index.get(t)
                if i is not None:
                    x[r, i] += 1.0
        logits = (x * self.idf) @ self.coef.T + self.intercept
        logits -= logits.max(axis=1, keepdims=True)
        p = np.exp(logits)
        p /= p.sum(axis=1, keepdims=True)
        best = p.argmax(axis=1)
        return [self.labels[i] for i in best], p.max(axis=1)


def build_export_pipeline(vocab_size: int = 4096, max_iter: int = 25, reg: float = 0.01):
    """CountVectorizer-based twin of ``build_pipeline``: an explicit
    vocabulary (exportable — murmur-hashed features are not portable off the
    JVM) at notebook scale; the HashingTF pipeline remains the 100 TB path."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import IDF, CountVectorizer, StringIndexer

    return Pipeline(
        stages=[
            StringIndexer(inputCol="label_str", outputCol="label", handleInvalid="keep"),
            CountVectorizer(inputCol="tokens", outputCol="tf", vocabSize=vocab_size),
            IDF(inputCol="tf", outputCol="features"),
            LogisticRegression(maxIter=max_iter, regParam=reg, family="multinomial"),
        ]
    )


def export_pickled_model(fitted) -> bytes:
    """Serialise a fitted export pipeline to PickledTextScorer bytes."""
    import pickle

    import numpy as np

    indexer, cv, idf, lr = fitted.stages
    return pickle.dumps(
        PickledTextScorer(
            vocab=cv.vocabulary,
            idf=np.array(idf.idf.toArray()),
            coef=np.array(lr.coefficientMatrix.toArray()),
            intercept=np.array(lr.interceptVector.toArray()),
            labels=list(indexer.labelsArray[0]),
        )
    )


def score_pickled(
    docs: DataFrame,
    model_bytes: bytes,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a broadcast pickled scorer (outliers.ipynb cell 4).

    One declared mapInPandas stage: tokenise (same regex as ``tokens_col``),
    score the Arrow batch, emit (id, predicted_str, probability). The model
    broadcasts once per executor — no per-row pickle loads, no driver loop.
    """
    import re

    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession() or docs.sparkSession
    bc = spark.sparkContext.broadcast(model_bytes)
    pattern = re.compile(TOKEN_PATTERN)

    def run(batches):
        import pickle

        import pandas as pd

        model = pickle.loads(bc.value)
        for pdf in batches:
            toks = [
                [t for t in pattern.sub(" ", (s or "").lower()).split() if len(t) > 1]
                for s in pdf[text_col]
            ]
            preds, probas = model.predict_proba(toks)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "predicted_str": preds, "probability": probas}
            )

    return docs.select(id_col, text_col).mapInPandas(
        run, f"{id_col} long, predicted_str string, probability double"
    )


def probability_outliers(
    scored: DataFrame, z_threshold: float = -2.5, id_col: str = "doc_id"
) -> DataFrame:
    """outliers.ipynb cell 5: z-score the max-probabilities (population
    std, scipy-compatible) and keep rows BELOW the one-sided threshold —
    low-confidence predictions are the outliers. Scalars come from one
    partial-aggregated pass broadcast back (no single-partition window)."""
    stats = scored.agg(
        F.avg("probability").alias("_mu"), F.stddev_pop("probability").alias("_sigma")
    )
    # Guard sigma==0 (degenerate model / tiny input): an unguarded divide
    # errors with DIVIDE_BY_ZERO under ANSI (this project's sweep) and
    # yields NULL non-ANSI. NULL z keeps no-signal explicit either way and
    # matches scipy zscore's NaN→empty-filter semantics.
    z = F.when(
        F.col("_sigma") > 0,
        (F.col("probability") - F.col("_mu")) / F.col("_sigma"),
    )
    return (
        scored.crossJoin(F.broadcast(stats))
        .withColumn("z_score", F.round(z, 4))
        .filter(F.col("z_score") < z_threshold)
        .select(id_col, "predicted_str", F.round("probability", 4).alias("probability"), "z_score")
    )


def outlier_top_tokens(
    docs: DataFrame, outliers: DataFrame, k: int = 10, text_col: str = "text"
) -> DataFrame:
    """outliers.ipynb cell 6: token value_counts over the outlier rows,
    top-k with a deterministic (count desc, token asc) tie-break."""
    toks = docs.join(outliers.select("doc_id"), "doc_id").select(
        F.explode(tokens_col(text_col)).alias("token")
    )
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(k)
    )


def pca_project(
    vectors: DataFrame,
    k: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Project array<float> embeddings onto their top-k principal components
    (classifiers.ipynb cells 16-18 use PCA the same way, for 2-D structure
    inspection of the TF-IDF space).

    Spark ML PCA computes the covariance eigenbasis distributed (one pass +
    a k x d driver-side SVD — d is the embedding width, not the row count,
    so this holds at 100 TB). Output: (id, pc array<double> of length k).
    Component SIGN is basis-dependent — consumers should compare absolute
    loadings or fix signs downstream (documented, matches sklearn caveat).
    """
    from pyspark.ml.feature import PCA
    from pyspark.ml.functions import array_to_vector, vector_to_array

    vecs = vectors.select(
        F.col(id_col), array_to_vector(F.col(vec_col).cast("array<double>")).alias("v")
    )
    model = PCA(k=k, inputCol="v", outputCol="pc_vec").fit(vecs)
    return model.transform(vecs).select(
        F.col(id_col), vector_to_array(F.col("pc_vec")).alias("pc")
    )


def _iround(y: float) -> int:
    """Round-half-away-from-zero to int — the ROUND(x) semantics shared by
    Spark (BigDecimal HALF_UP) and DuckDB (std::round) when rounding a
    double to zero decimal places, so the driver-side recurrence below
    reproduces either engine bit-for-bit."""
    import math

    if y >= 0:
        return int(math.floor(y + 0.5))
    return -int(math.floor(-y + 0.5))


def _power_iterate(C: list[list[int]], dim: int, rounds: int) -> list[int]:
    """Fixed-round power iteration over an integer matrix, state rounded to
    an int vector (v*1e4) each round. Every step is either exact integer
    algebra or a single IEEE op on deterministically-converted values, so
    the identical recurrence unrolled as SQL CTEs reproduces it exactly."""
    import math

    v = [1250] * dim  # round(1/sqrt(64) * 1e4) — deterministic start
    for _ in range(rounds):
        s = [sum(C[i][j] * v[j] for j in range(dim)) for i in range(dim)]
        s2 = sum(si * si for si in s)  # exact (Python bigint / DuckDB HUGEINT)
        v = [_iround(float(si) / math.sqrt(float(s2)) * 10000.0) for si in s]
    return v


def _svd_flip(v: list[int]) -> list[int]:
    """Sign-canonicalise: flip so the largest-|loading| coordinate is
    positive (sklearn's svd_flip convention; ties break to the lowest
    index). Makes the projection engine-portable."""
    imax = max(range(len(v)), key=lambda i: (abs(v[i]), -i))
    return [-x for x in v] if v[imax] < 0 else v


def deterministic_pca_project(
    vectors: DataFrame,
    k: int = 2,
    dim: int = 64,
    rounds: int = 40,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic distributed PCA projection: (id, pc1..pck) scalar
    columns, engine-portable to 4dp (classifiers.ipynb cells 16-18 shape).

    Unlike Spark ML's PCA (LAPACK eigensolve — correct but not
    reproducible outside the JVM), every step here is deterministic
    algebra, so a DuckDB oracle chains the identical recurrence and
    hash-matches (the q147 k-means contract, PCA edition):

    1. quantise x to int(round(x*1e4)) — all cross-row sums become EXACT
       integer sums, immune to partition/summation order;
    2. one data pass: per-partition numpy int64 Gram partials via
       mapInPandas (map-side combine — the only shuffle is P*d^2 tiny
       partial rows), giving exact S1_i = sum(x_i), S2_ij = sum(x_i*x_j);
    3. driver-side (d x d, bounded — never row-scaled): integer covariance
       C_ij = n*S2_ij - S1_i*S1_j, rescaled to ~1e6 ints; fixed-round
       power iteration + deflation, state rounded to v*1e4 ints each
       round; svd_flip sign canonicalisation;
    4. projection: pc_c = round(sum_i (x_i/1e4 - mu_i) * v_ci, 4) as pure
       Catalyst zip_with/aggregate over broadcast literal vectors.

    Scale: one pass over the data + a d x d driver solve — Spark ML PCA's
    own shape, safe at 100 TB (d is the embedding width, not row count).
    """
    import math

    import numpy as np
    import pandas as pd

    xi = vectors.select(
        F.col(id_col),
        F.transform(
            F.col(vec_col), lambda x: F.round(x.cast("double") * F.lit(10000.0)).cast("long")
        ).alias("xi"),
    )

    def _partials(batches):
        s1 = np.zeros(dim, dtype=np.int64)
        s2 = np.zeros((dim, dim), dtype=np.int64)
        n = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["xi"].to_numpy()).astype(np.int64)
            s1 += X.sum(axis=0)
            s2 += X.T @ X  # exact int64 (|x_int| <= ~1e4 → no overflow)
            n += len(X)
        ii, jj = np.meshgrid(np.arange(dim), np.arange(dim), indexing="ij")
        yield pd.DataFrame(
            {
                "i": np.concatenate([ii.ravel(), np.arange(dim), [-1]]),
                "j": np.concatenate([jj.ravel(), np.full(dim, -1), [-1]]),
                "v": np.concatenate([s2.ravel(), s1, [n]]),
            }
        )

    sums = (
        xi.select("xi")
        .mapInPandas(_partials, "i int, j int, v long")
        .groupBy("i", "j")
        .agg(F.sum("v").alias("v"))
        .collect()
    )  # bounded: d*d + d + 1 rows regardless of corpus size
    by_key = {(r["i"], r["j"]): r["v"] for r in sums}
    n = by_key.get((-1, -1), 0)
    if n == 0:  # empty corpus → empty projection, same schema (totality)
        schema = ", ".join(
            [f"{id_col} long"] + [f"pc{c + 1} double" for c in range(k)]
        )
        return vectors.sparkSession.createDataFrame([], schema)
    S1 = [by_key[(i, -1)] for i in range(dim)]
    S2 = [[by_key[(i, j)] for j in range(dim)] for i in range(dim)]

    C = [
        [
            _iround(float(n * S2[i][j] - S1[i] * S1[j]) / (float(n) * float(n)))
            for j in range(dim)
        ]
        for i in range(dim)
    ]
    comps: list[list[int]] = []
    for _ in range(k):
        v = _power_iterate(C, dim, rounds)
        comps.append(_svd_flip(v))
        lam_i = sum(v[i] * C[i][j] * v[j] for i in range(dim) for j in range(dim))
        lam = float(lam_i) / 1.0e8
        C = [
            [
                _iround(float(C[i][j]) - lam * (float(v[i]) / 10000.0) * (float(v[j]) / 10000.0))
                for j in range(dim)
            ]
            for i in range(dim)
        ]

    mu = [float(S1[i]) / float(n) / 10000.0 for i in range(dim)]
    mu_lit = F.array(*[F.lit(m) for m in mu])
    centered = F.zip_with("xi", mu_lit, lambda x, m: x.cast("double") / F.lit(10000.0) - m)
    out = [F.col(id_col)]
    for c, vint in enumerate(comps):
        v_lit = F.array(*[F.lit(float(x) / 10000.0) for x in vint])
        terms = F.zip_with(centered, v_lit, lambda a, v: a * v)
        out.append(
            F.round(F.aggregate(terms, F.lit(0.0), lambda acc, x: acc + x), 4).alias(
                f"pc{c + 1}"
            )
        )
    return xi.select(*out)


def deterministic_pca_oracle(k: int = 2, rounds: int = 40) -> str:
    """DuckDB SQL computing deterministic_pca_project's exact recurrence:
    integer-quantised sums, integer covariance, `rounds` unrolled
    power-iteration CTEs per component (AS MATERIALIZED — DuckDB would
    otherwise re-inline the chain exponentially), deflation, svd_flip,
    4dp projection. Hash-matches the Spark output bit-for-bit."""

    def iter_ctes(cmat: str, vprev: str, tag: str) -> tuple[str, str]:
        parts = []
        for t in range(rounds):
            vcur = f"{tag}_v{t + 1}"
            parts.append(
                f"""
{tag}_s{t + 1} AS MATERIALIZED (
    SELECT c.i, SUM(c.c * v.v) AS s
    FROM {cmat} c JOIN {vprev} v ON v.i = c.j GROUP BY c.i
),
{tag}_n{t + 1} AS MATERIALIZED (
    SELECT SUM(CAST(s AS HUGEINT) * s) AS s2 FROM {tag}_s{t + 1}
),
{vcur} AS MATERIALIZED (
    SELECT s.i,
           CAST(ROUND(CAST(s.s AS DOUBLE)/SQRT(CAST(n.s2 AS DOUBLE))*10000.0) AS BIGINT) AS v
    FROM {tag}_s{t + 1} s, {tag}_n{t + 1} n
)"""
            )
            vprev = vcur
        return ",".join(parts), vprev

    comp_ctes, proj_cols, prev_mat = [], [], "cred"
    for c in range(1, k + 1):
        it, vname = iter_ctes(prev_mat, f"seed{c}", f"p{c}")
        comp_ctes.append(
            f"""
seed{c} AS (SELECT i, CAST(1250 AS BIGINT) AS v FROM s1),
{it},
flip{c} AS (
    SELECT CASE WHEN (SELECT v FROM {vname} ORDER BY ABS(v) DESC, i ASC LIMIT 1) < 0
                THEN -1 ELSE 1 END AS f
),
vf{c} AS (SELECT v.i, v.v * f.f AS v FROM {vname} v, flip{c} f)"""
        )
        if c < k:
            comp_ctes.append(
                f"""
lam{c} AS MATERIALIZED (
    SELECT CAST(SUM(CAST(va.v AS HUGEINT) * m.c * vb.v) AS DOUBLE)/1.0e8 AS l
    FROM {prev_mat} m JOIN {vname} va ON va.i = m.i JOIN {vname} vb ON vb.i = m.j
),
cdefl{c} AS MATERIALIZED (
    SELECT m.i, m.j,
           CAST(ROUND(CAST(m.c AS DOUBLE)
                      - lam{c}.l * (CAST(va.v AS DOUBLE)/10000.0)
                        * (CAST(vb.v AS DOUBLE)/10000.0)) AS BIGINT) AS c
    FROM {prev_mat} m, lam{c}
    JOIN {vname} va ON va.i = m.i JOIN {vname} vb ON vb.i = m.j
)"""
            )
            prev_mat = f"cdefl{c}"
        proj_cols.append(
            f"""ROUND(SUM((CAST(x.xi AS DOUBLE)/10000.0 - mu.m)
                 * (CAST(v{c}.v AS DOUBLE)/10000.0)), 4) AS pc{c}"""
        )
    proj_joins = "\n".join(f"JOIN vf{c} v{c} ON v{c}.i = x.i" for c in range(1, k + 1))
    comp_sql = ",".join(comp_ctes)
    proj_sql = ",\n       ".join(proj_cols)
    return f"""
WITH xint AS MATERIALIZED (
    SELECT vec_id, i, CAST(ROUND(CAST(x AS DOUBLE)*10000.0) AS BIGINT) AS xi
    FROM (SELECT vec_id, UNNEST(embedding) AS x,
                 GENERATE_SUBSCRIPTS(embedding, 1) AS i FROM embeddings)
),
nn AS (SELECT COUNT(DISTINCT vec_id) AS n FROM xint),
s1 AS MATERIALIZED (SELECT i, SUM(xi) AS s1 FROM xint GROUP BY i),
s2 AS MATERIALIZED (
    SELECT a.i AS i, b.i AS j, SUM(a.xi * b.xi) AS s2
    FROM xint a JOIN xint b ON b.vec_id = a.vec_id GROUP BY a.i, b.i
),
cred AS MATERIALIZED (
    SELECT s2.i, s2.j,
           CAST(ROUND(CAST(nn.n * s2.s2 - sa.s1 * sb.s1 AS DOUBLE)
                      / (CAST(nn.n AS DOUBLE) * CAST(nn.n AS DOUBLE))) AS BIGINT) AS c
    FROM s2, nn
    JOIN s1 sa ON sa.i = s2.i JOIN s1 sb ON sb.i = s2.j
),
{comp_sql},
mu AS (SELECT s1.i, CAST(s1.s1 AS DOUBLE)/CAST(nn.n AS DOUBLE)/10000.0 AS m FROM s1, nn)
SELECT x.vec_id,
       {proj_sql}
FROM xint x
JOIN mu ON mu.i = x.i
{proj_joins}
GROUP BY x.vec_id
"""


def kmeans_assignments(
    vectors: DataFrame,
    k: int = 4,
    n_iter: int = 3,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Fixed-iteration Lloyd k-means, fully deterministic: (id, cluster).

    Seeds are the first k corpus ids (the IVF/PQ convention); each round
    assigns by argmin of the 4dp-ROUNDED squared distance (ties to the
    smaller cluster id) and recomputes centroids as per-dimension means
    ROUNDED to 4dp — the rounds make every iteration's state a pure
    function of the data, so a DuckDB oracle chains the identical
    algebra (the q82 pagerank contract, k-means edition).

    Scale: assignment is zero-shuffle (centroids packed into ONE
    broadcast row, scored in codegen — the cell_assignments shape);
    the update is one map-side-combined groupBy(cluster) over 64 avg
    aggregates. Centroid relations are k rows, checkpointed per round by
    ``caching.iterate`` without ever collecting vectors.
    """
    from ..caching import iterate
    from .similarity import _d2

    vd = vectors.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    ).localCheckpoint(eager=True)
    centroids = vd.filter(F.col(id_col) < k).select(
        F.col(id_col).cast("int").alias("cid"), F.col("_v").alias("cvec")
    )

    def assign(cents: DataFrame) -> DataFrame:
        packed = cents.agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("cid"), F.col("cvec")))
            ).alias("_cs")
        )
        scored = F.transform(
            F.col("_cs"),
            lambda c: F.struct(
                F.round(_d2(F.col("_v"), c["cvec"]), 4).alias("d"),
                c["cid"].alias("cid"),
            ),
        )
        return (
            vd.join(F.broadcast(packed))
            .select(
                F.col(id_col),
                F.col("_v"),
                # array_min == element_at(array_sort, 1) for non-null
                # structs (same interpreted ordering) without the O(k log k)
                # sorted-copy per row — the per-row argmin hot path.
                F.array_min(scored)["cid"].alias("cluster"),
            )
        )

    def update(cents: DataFrame) -> DataFrame:
        return (
            assign(cents)
            .groupBy("cluster")
            .agg(
                F.array(
                    *[
                        F.round(F.avg(F.element_at("_v", i + 1)), 4)
                        for i in range(dim)
                    ]
                ).alias("cvec")
            )
            .select(F.col("cluster").alias("cid"), "cvec")
        )

    return assign(iterate(centroids, update, n_iter)).select(id_col, "cluster")
