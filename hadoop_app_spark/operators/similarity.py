"""Similarity search over embedding columns (array<float>).

Beyond-reference surface (north star):
- brute_force_topk: exact cosine top-k — the correctness baseline.
  Query side is broadcast (queries are few); the corpus never
  shuffles; per-partition scoring then a global TakeOrdered of
  k rows per query. Linear in corpus size — the right baseline, and
  at 100 TB the thing the ANN path is measured against.
- lsh_topk: random-hyperplane (sign) LSH bucketing — the scale path.
  Corpus is bucketed once (a narrow int key), probes hit only their
  bucket; recall traded via n_planes/n_tables. Hyperplanes are
  deterministic (fixed seed) so results are reproducible run-to-run.

Vector math stays in Catalyst higher-order functions (zip_with /
aggregate, see functions.vectors). brute_force_topk has no numpy twin:
at dim=64, the only width in use, its JVM fold beats a numpy kernel
that pays Arrow transfer. lsh_topk, ivf_topk and embedding_near_dups
have numpy twins (the ``_vectorized`` functions) that measured faster
at dim=64; the HOF forms are their pytest references.

Background (public literature, see PAPERS.md): distributed top-k
similarity with local index structures per partition (REPOSE, ICDE
2021) and adaptive pruning of candidates (Continuously Adaptive
Similarity Search, SIGMOD 2020) — the bucket-join shapes here are the
DataFrame-native forms of those candidate-pruning ideas.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hadoop_app_spark.functions.vectors import cosine_similarity, dot, matrix_lit

_SEED = 42


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k by cosine: [query_id, vec_id, cosine, rank].

    queries: [query_id, query_vec]. Self-matches (query_id == vec_id)
    are excluded so a corpus vector can query its own corpus.
    """
    joined = corpus.join(F.broadcast(queries), F.col(id_col) != F.col("query_id"))
    scored = joined.select(
        "query_id",
        id_col,
        cosine_similarity(vec_col, "query_vec").alias("cosine"),
    )
    return _rank_topk(scored, id_col, k)


def _np_normalize(X):
    import numpy as np

    return X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)


def _np_buckets(X, P):
    """Sign-LSH bucket ints for rows of X against hyperplane matrix P:
    bit i = (x . p_i) > 0 — numpy twin of lsh_bucket's HOF expression.
    (matmul accumulation order differs from the HOF fold; a dot exactly
    at 0.0 could in principle flip a bit — measure-zero on real data,
    rank parity is pinned in pytest)."""
    import numpy as np

    bits = (X @ P.T) > 0  # (n, p) bool
    weights = (1 << np.arange(P.shape[0], dtype=np.int64))
    return bits.astype(np.int64) @ weights


def _partial_topk_frame(qid, ids, vals, k, id_col):
    """Stable partial top-k with the final (cosine desc, id asc) tiebreak."""
    import numpy as np
    import pandas as pd

    order = np.lexsort((ids, -vals))[:k]
    return pd.DataFrame({"query_id": qid, id_col: ids[order], "cosine": vals[order]})


def _rank_topk(cand: DataFrame, id_col: str, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    return cand.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def _hyperplanes(dim: int, n_planes: int, seed: int = _SEED) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (Box-Muller over a
    simple LCG — no numpy dependency in the plan, reproducible)."""
    state = seed

    def rnd() -> float:
        nonlocal state
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        return state / float(1 << 63)

    planes = []
    for _ in range(n_planes):
        v = []
        for _ in range(dim):
            u1, u2 = max(rnd(), 1e-12), rnd()
            v.append(math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.pi * u2))
        norm = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / norm for x in v])
    return planes


def _bucket_expr(vec_col: str, planes: list[list[float]]):
    bucket = sum(
        (
            F.when(dot(F.col(vec_col), F.lit([float(x) for x in p])) > 0, F.lit(1 << i)).otherwise(F.lit(0))
            for i, p in enumerate(planes)
        ),
        F.lit(0),
    )
    return bucket.cast("int")


def lsh_bucket(df: DataFrame, vec_col: str, dim: int, n_planes: int = 8, seed: int = _SEED):
    """Add a sign-LSH bucket column: bit i = sign(v . plane_i)."""
    return df.withColumn("bucket", _bucket_expr(vec_col, _hyperplanes(dim, n_planes, seed)))


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 1,
) -> DataFrame:
    """Approximate top-k: score only within the query's LSH bucket.

    The corpus is bucketed once (narrow int key) and the join is an
    equi-join on bucket — at scale this is the difference between
    scanning 100 TB per query and scanning 1/2^n_planes of it.

    ``n_tables`` > 1 is OR-amplification: each table hashes with an
    independent hyperplane set (seed _SEED+t), a pair is a candidate
    when ANY table buckets it together. Recall rises steeply (a true
    neighbor only needs to agree on one table's n_planes signs) at
    candidate-set cost ~x n_tables — the standard LSH recall knob.
    All tables' memberships come from ONE corpus scan (a posexplode
    of the per-table bucket array), and duplicate candidate pairs are
    collapsed before ranking.
    """
    if n_tables == 1:
        cb = lsh_bucket(corpus, vec_col, dim, n_planes)
        qb = lsh_bucket(queries, "query_vec", dim, n_planes)
        joined = cb.join(F.broadcast(qb), "bucket").where(F.col(id_col) != F.col("query_id"))
    else:
        tables = [_hyperplanes(dim, n_planes, _SEED + t) for t in range(n_tables)]
        carr = F.array(*[_bucket_expr(vec_col, p) for p in tables])
        qarr = F.array(*[_bucket_expr("query_vec", p) for p in tables])
        cb = corpus.select(id_col, vec_col, F.posexplode(carr).alias("_tbl", "bucket"))
        qb = queries.select(
            "query_id", "query_vec", F.posexplode(qarr).alias("_tbl", "bucket")
        )
        joined = (
            cb.join(F.broadcast(qb), ["_tbl", "bucket"])
            .where(F.col(id_col) != F.col("query_id"))
            # a pair that collides in several tables must score once
            .dropDuplicates(["query_id", id_col])
        )
    scored = joined.select(
        "query_id",
        id_col,
        cosine_similarity(vec_col, "query_vec").alias("cosine"),
    )
    return _rank_topk(scored, id_col, k)


def lsh_topk_vectorized(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 1,
) -> DataFrame:
    """Vectorized twin of lsh_topk — same hyperplanes, same buckets,
    same (cosine desc, id asc) ranking, numpy kernel.

    One mapInPandas over the corpus does bucket assignment (sign matmul)
    AND masked cosine scoring per Arrow batch with a map-side partial
    top-k — the corpus never shuffles at all (the HOF form at least
    avoids reshuffling by broadcasting queries; this also removes the
    per-row interpreted expression tree). Exchange carries at most
    partitions x m x k rows. Cosines come from BLAS accumulation, so
    last-ulp values can differ from the HOF fold — rank parity is the
    pytest contract, and the HOF form is the pytest reference.

    ``n_tables`` OR-amplifies exactly like lsh_topk: a corpus vector is
    a candidate for query j when any table's buckets agree. Here it is
    just an any() over per-table equality masks — no explode, no dedup,
    still zero corpus shuffle.
    """
    import numpy as np

    Ps = [
        np.array(_hyperplanes(dim, n_planes, _SEED + t), dtype=np.float64)
        for t in range(n_tables)
    ]
    qrows = queries.select("query_id", "query_vec").collect()
    if not qrows:
        raise ValueError("empty queries")
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    Q = np.array([list(r[1]) for r in qrows], dtype=np.float64)
    qbuckets = [_np_buckets(Q, P) for P in Ps]
    Qn = _np_normalize(Q)
    bq = corpus.sparkSession.sparkContext.broadcast((qids, Qn, qbuckets, Ps))
    out_schema = f"query_id long, {id_col} long, cosine double"

    def score(batches):
        bqids, bQn, bqbuckets, bPs = bq.value
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            ids = pdf[id_col].to_numpy()
            buckets = [_np_buckets(X, P) for P in bPs]
            Xn = _np_normalize(X)
            C = Xn @ bQn.T  # (batch, m)
            for j, qid in enumerate(bqids):
                mask = ids != qid
                any_table = buckets[0] == bqbuckets[0][j]
                for t in range(1, len(bPs)):
                    any_table |= buckets[t] == bqbuckets[t][j]
                mask &= any_table
                if not mask.any():
                    continue
                yield _partial_topk_frame(qid, ids[mask], C[mask, j], k, id_col)

    cand = corpus.select(id_col, vec_col).mapInPandas(score, out_schema)
    return _rank_topk(cand, id_col, k)


def train_ivf_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    iters: int = 3,
    seed_on_sample: int | None = None,
) -> DataFrame:
    """Lloyd's k-means refinement of the deterministic first-k seed —
    the trained-index upgrade for ``ivf_topk``'s ``centroid_source``.

    Scale shape per iteration: cell assignment is a per-row argmax over
    the centroid matrix inlined as ONE literal (no shuffle, one corpus
    scan); the update is posexplode to (cell, dim, value) feeding a
    partial-combine hash aggregation, and only k x dim mean rows ever
    reach the driver. Empty cells keep their previous centroid. Seeding
    (first k by id) is deterministic; the float means inherit Spark's
    aggregation order, so trained centroids are bit-stable only
    per-plan — keep trained IVF out of value-hash oracles (rank-set
    checks in pytest instead, like the other engine-seeded structures).

    Seeding is farthest-point (greedy k-center): k-1 rounds, each a
    per-row min-distance-to-chosen projection followed by a 1-row
    TakeOrdered — deterministic (ties by ascending id) and bounded,
    unlike first-k-by-id which can drop every seed into one cluster
    and strand Lloyd's in a degenerate partition.

    When to train (measured, BASELINE.md r3): on clustered corpora
    (real embedding data) trained cells are decisive — the pytest
    fixture reaches recall 1.0 at n_probe=1 where first-k seeding
    cannot; on near-uniform data training does NOT improve recall at a
    matched scan budget, so the cheap deterministic seeds are fine.

    ``seed_on_sample``: when set (an int sample size), farthest-point
    seeding runs driver-side in numpy over a deterministic
    hash-ordered sample of that many vectors — ONE Spark job instead
    of k-1 sequential full-corpus argmax scans. At production scale
    the sequential seeding rounds dominate training (measured: 16
    centroids = 15 extra jobs, ~8s of pure scheduling at sf0.01);
    k-means seeding on a bounded sample is the standard recipe and the
    sample is hash-ordered (xxhash64 of the id), so it is reproducible
    and content-independent. Lloyd's refinement stays distributed and
    identical. Default None keeps the exact full-corpus seeding.

    Returns DataFrame[id_col, vec_col(array<double>)] for
    ``centroid_source``.
    """
    spark = corpus.sparkSession
    if seed_on_sample is not None:
        import numpy as np

        rows = (
            corpus.select(id_col, vec_col)
            .orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
            .limit(int(seed_on_sample))
            .collect()
        )
        if not rows:
            raise ValueError("empty corpus")
        # sample arrives hash-ordered; re-sort by id so "first" and the
        # ascending-id tie-break match the full-corpus seeding contract
        rows.sort(key=lambda r: r[0])
        X = np.array([list(r[1]) for r in rows], dtype=np.float64)
        chosen = [0]
        d2 = ((X - X[0]) ** 2).sum(axis=1)
        while len(chosen) < min(n_centroids, len(rows)):
            nxt = int(np.argmax(d2))  # first max == lowest id on ties
            chosen.append(nxt)
            d2 = np.minimum(d2, ((X - X[nxt]) ** 2).sum(axis=1))
        cents = [[float(x) for x in X[i]] for i in chosen]
    else:
        first = corpus.orderBy(id_col).select(id_col, vec_col).head(1)
        if not first:
            raise ValueError("empty corpus")
        cents = [[float(x) for x in first[0][1]]]
        while len(cents) < n_centroids:
            matrix = matrix_lit(cents)
            # squared L2 distance to the nearest chosen seed
            d2 = F.array_min(
                F.transform(
                    matrix,
                    lambda c: F.aggregate(
                        F.zip_with(F.col(vec_col), c, lambda a, b: (a - b) * (a - b)),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    ),
                )
            )
            far = (
                corpus.select(F.col(id_col), F.col(vec_col), d2.alias("_d2"))
                .orderBy(F.col("_d2").desc(), F.col(id_col).asc())
                .head(1)
            )
            cents.append([float(x) for x in far[0][1]])
    for _ in range(iters):
        matrix = matrix_lit(cents)
        dots = F.transform(matrix, lambda c: dot(F.col(vec_col), c))
        cell = (F.array_position(dots, F.array_max(dots)) - 1).cast("int")
        means = (
            corpus.select(cell.alias("cell"), F.posexplode(vec_col).alias("dim", "val"))
            .groupBy("cell", "dim")
            .agg(F.avg("val").alias("m"))
            .collect()
        )
        by_cell: dict[int, dict[int, float]] = {}
        for r in means:
            by_cell.setdefault(r["cell"], {})[r["dim"]] = float(r["m"])

        def spherical(mean_vec: list[float]) -> list[float]:
            # cell membership and probe order are max-DOT comparisons, so
            # this is spherical k-means: a raw mean shrinks in norm and
            # biases every dot comparison toward longer centroids —
            # project each update back to the unit sphere
            norm = math.sqrt(sum(x * x for x in mean_vec))
            return [x / norm for x in mean_vec] if norm > 0 else mean_vec

        cents = [
            spherical([by_cell[i][d] for d in range(len(cents[i]))]) if i in by_cell else cents[i]
            for i in range(len(cents))
        ]
    return spark.createDataFrame(
        [(i, v) for i, v in enumerate(cents)], f"{id_col} long, {vec_col} array<double>"
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    centroid_source: DataFrame | None = None,
) -> DataFrame:
    """IVF-style ANN: Voronoi-partition the corpus around centroids,
    probe only the ``n_probe`` nearest cells per query.

    ``centroid_source`` lets the caller hand in a cheaper-to-scan
    frame for the one-time centroid fetch (e.g. the raw table before
    any repartition) — the fetch is a driver-side TakeOrdered of
    n_centroids rows and should not pay the corpus' shuffle.

    Centroid choice is training-free and deterministic — the
    ``n_centroids`` lowest-id corpus vectors (a real deployment would
    k-means; index structure and probe path are identical, which is
    what matters for the plan shape).

    Scale shape: centroids are collected once (tiny) and inlined as
    literals, so cell assignment is a PER-ROW argmax — no fan-out, no
    shuffle, the corpus is scanned exactly once. Probes explode each
    query into n_probe (query, cell) rows, broadcast, and equi-join on
    the int cell key: each query scores ~n_probe/n_centroids of the
    corpus instead of all of it.

    Ties: cell = first index attaining the max dot (array_position on
    exact doubles); final rank ties break by ascending id.
    """
    src = centroid_source if centroid_source is not None else corpus
    cents = [
        (r[0], list(r[1]))
        for r in src.orderBy(id_col).limit(n_centroids).select(id_col, vec_col).collect()
    ]
    if not cents:
        raise ValueError("empty corpus")
    # single nested-array literal: one py4j call and one plan node for
    # the whole centroid matrix — per-element literals made plan
    # construction (~1k gateway calls) dwarf the actual execution
    matrix = matrix_lit([[float(x) for x in v] for _, v in cents])

    def cell_expr(vcol: str):
        dots = F.transform(matrix, lambda c: dot(F.col(vcol), c))
        return (F.array_position(dots, F.array_max(dots)) - 1).cast("int")

    indexed = corpus.withColumn("cell", cell_expr(vec_col))
    qdots = F.transform(
        matrix,
        lambda c, i: F.struct(dot(F.col("query_vec"), c).alias("d"), i.cast("int").alias("idx")),
    )
    probe_cells = F.transform(
        F.slice(
            F.array_sort(
                qdots,
                lambda l, r: F.when(l["d"] > r["d"], F.lit(-1))
                .when(l["d"] < r["d"], F.lit(1))
                .otherwise((l["idx"] - r["idx"]).cast("int")),
            ),
            1,
            n_probe,
        ),
        lambda s: s["idx"],
    )
    probed = queries.select("query_id", "query_vec", F.explode(probe_cells).alias("cell"))
    joined = indexed.join(F.broadcast(probed), "cell").where(F.col(id_col) != F.col("query_id"))
    scored = joined.select(
        "query_id", id_col, cosine_similarity(vec_col, "query_vec").alias("cosine")
    )
    return _rank_topk(scored, id_col, k)


def ivf_topk_vectorized(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    centroid_source: DataFrame | None = None,
) -> DataFrame:
    """Vectorized twin of ivf_topk — same centroids, same first-argmax
    cell assignment, same (dot desc, idx asc) probe order, numpy kernel.

    Cell assignment and probe-cell scoring happen inside one
    mapInPandas pass (argmax over a batch x centroids matmul, then a
    masked cosine matmul per query) with map-side partial top-k — no
    corpus shuffle, no interpreted per-row expression tree. Rank parity
    with the HOF form pinned in pytest; the HOF form is the pytest
    reference.
    """
    import numpy as np

    src = centroid_source if centroid_source is not None else corpus
    cents = [
        (r[0], list(r[1]))
        for r in src.orderBy(id_col).limit(n_centroids).select(id_col, vec_col).collect()
    ]
    if not cents:
        raise ValueError("empty corpus")
    C = np.array([v for _, v in cents], dtype=np.float64)  # (c, dim)
    qrows = queries.select("query_id", "query_vec").collect()
    if not qrows:
        raise ValueError("empty queries")
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    Q = np.array([list(r[1]) for r in qrows], dtype=np.float64)
    # probe cells per query: top n_probe by (dot desc, idx asc)
    qdots = Q @ C.T
    probe = np.stack(
        [np.lexsort((np.arange(C.shape[0]), -qdots[j]))[:n_probe] for j in range(len(qids))]
    )
    Qn = _np_normalize(Q)
    bq = corpus.sparkSession.sparkContext.broadcast((qids, Qn, probe, C))
    out_schema = f"query_id long, {id_col} long, cosine double"

    def score(batches):
        bqids, bQn, bprobe, bC = bq.value
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            ids = pdf[id_col].to_numpy()
            # first index attaining the max dot — np.argmax tie rule ==
            # the HOF form's array_position(dots, array_max(dots))
            cells = np.argmax(X @ bC.T, axis=1)
            Xn = _np_normalize(X)
            Cs = Xn @ bQn.T
            for j, qid in enumerate(bqids):
                mask = np.isin(cells, bprobe[j]) & (ids != qid)
                if not mask.any():
                    continue
                yield _partial_topk_frame(qid, ids[mask], Cs[mask, j], k, id_col)

    cand = corpus.select(id_col, vec_col).mapInPandas(score, out_schema)
    return _rank_topk(cand, id_col, k)


def embedding_near_dups(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    threshold: float = 0.95,
    n_planes: int = 6,
) -> DataFrame:
    """Near-duplicate pairs by cosine >= threshold, candidate-limited
    to same-LSH-bucket pairs (no O(n^2) cross product)."""
    b = lsh_bucket(df, vec_col, dim, n_planes)
    a, c = b.alias("a"), b.alias("b")
    pairs = (
        a.join(c, "bucket")
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            cosine_similarity(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")).alias("cosine"),
        )
    )
    return pairs.where(F.col("cosine") >= threshold)


def embedding_near_dups_vectorized(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    threshold: float = 0.95,
    n_planes: int = 6,
    block: int = 2048,
) -> DataFrame:
    """Vectorized twin of embedding_near_dups — same buckets, same
    pair set (id_a < id_b, cosine >= threshold), numpy kernel.

    Shape: one mapInPandas assigns buckets (sign matmul), ONE shuffle
    co-locates each bucket, then applyInPandas scores the within-bucket
    pairs as blocked matmuls — the HOF self-join form instead expands
    every within-bucket pair into a row and folds a 64-dim interpreted
    expression per pair. Blocked (``block`` rows at a time) so a skewed
    bucket costs O(n_b^2) float ops but only O(block * n_b) memory.
    Cosine values differ from the HOF fold in the last ulp, so pair-set
    parity (not value parity) is the pytest contract; the HOF form
    stays the oracle surface.
    """
    import numpy as np
    import pandas as pd

    planes = np.array(_hyperplanes(dim, n_planes), dtype=np.float64)
    bp = df.sparkSession.sparkContext.broadcast(planes)
    assign_schema = f"{id_col} long, {vec_col} array<double>, bucket int"

    def assign(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    vec_col: list(X),
                    "bucket": _np_buckets(X, bp.value).astype(np.int32),
                }
            )

    bucketed = df.select(id_col, vec_col).mapInPandas(assign, assign_schema)

    def bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
            )
        ids = pdf[id_col].to_numpy()
        Xn = _np_normalize(np.array(pdf[vec_col].tolist(), dtype=np.float64))
        out = []
        for lo in range(0, n, block):
            hi = min(lo + block, n)
            Cb = Xn[lo:hi] @ Xn.T  # (hi-lo, n)
            bi, bj = np.nonzero(Cb >= threshold)
            keep = (bi + lo) < bj  # upper triangle only: each pair once
            if not keep.any():
                continue
            ia, ib = ids[bi[keep] + lo], ids[bj[keep]]
            cos = Cb[bi[keep], bj[keep]]
            swap = ia > ib
            ia2 = np.where(swap, ib, ia)
            ib2 = np.where(swap, ia, ib)
            out.append(pd.DataFrame({"id_a": ia2, "id_b": ib2, "cosine": cos}))
        if not out:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
            )
        return pd.concat(out, ignore_index=True)

    return bucketed.groupBy("bucket").applyInPandas(bucket_pairs, "id_a long, id_b long, cosine double")
