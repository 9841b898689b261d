"""Embedding similarity search over the embeddings table (north-star
extension): brute-force cosine top-k baseline + IVF-bucketed scale path.

Dot products run JVM-side via F.zip_with + F.aggregate (no Python, no UDF).
Embeddings are float32 in parquet → cast to double BEFORE any arithmetic so
results are stable and oracle-comparable.

Scale notes:
- brute-force is the correctness baseline: queries × corpus broadcast join
  (queries side is small → broadcast, corpus streams; cost O(Q·N·d) flops
  but fully data-parallel, no shuffle of the corpus).
- IVF: coarse-quantize the corpus once (nearest of k seed centroids — a
  broadcast join), then probe only nprobe cells per query: the classic
  inverted-file ANN layout; at 100 TB the corpus is partitioned/bucketed by
  cell_id so a probe touches only matching partitions.
"""
from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window, functions as F

from .generators import to_wide


def _to_double(col: str) -> F.Column:
    return F.transform(F.col(col), lambda x: x.cast("double"))


def with_norm(df: DataFrame, vec: str = "embedding") -> DataFrame:
    """All-zero vectors are out of contract for the similarity family:
    norm 0 makes cosine NaN here, and the derived scale in quantize_int8 /
    int8_recall is likewise 0 → NaN reconstruction. Both engines (Spark and
    the DuckDB oracles) degrade identically, so there is no cross-engine
    skew — but ranks involving such rows are meaningless. The generators
    never emit them; external corpora should drop zero vectors upstream."""
    v = _to_double(vec)
    dot = F.aggregate(F.zip_with(v, v, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x)
    return df.withColumn("_vec", v).withColumn("norm", F.sqrt(dot))


def cosine(a: str, b: str) -> F.Column:
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def brute_force_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 5, vec: str = "embedding"
) -> DataFrame:
    """Exact cosine top-k: for each query vector, the k nearest corpus
    vectors (self-match excluded). → (query_id, neighbor_id, cos_sim, rank)."""
    c = with_norm(corpus, vec).select(
        F.col("vec_id").alias("neighbor_id"), F.col("_vec").alias("cvec"), F.col("norm").alias("cnorm")
    )
    q = with_norm(queries, vec).select(
        F.col("vec_id").alias("query_id"), F.col("_vec").alias("qvec"), F.col("norm").alias("qnorm")
    )
    pairs = c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
    sim = pairs.withColumn("cos_sim", cosine("qvec", "cvec") / (F.col("qnorm") * F.col("cnorm")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def brute_force_topk_sql(n_queries: int, k: int = 5) -> str:
    """DuckDB oracle: same math with double-cast lists."""
    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings),
n AS (
  SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS norm FROM v),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_dot_product(q.vec, c.vec) / (q.norm * c.norm) AS cos_sim
  FROM n q JOIN n c ON q.vec_id < {n_queries} AND c.vec_id <> q.vec_id)
SELECT query_id, neighbor_id, (round((cos_sim) + 1.0e-9,6)+0.0e0) AS cos_sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM pairs) WHERE rank <= {k}
"""


def neardup_pairs(
    df: DataFrame, block: str = "label", threshold: float = 0.9, vec: str = "embedding"
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within blocking key."""
    v = with_norm(df, vec).select("vec_id", block, "_vec", "norm")
    a = v.select(
        F.col("vec_id").alias("id_a"), F.col(block).alias("blk"), F.col("_vec").alias("va"), F.col("norm").alias("na")
    )
    b = v.select(
        F.col("vec_id").alias("id_b"), F.col(block).alias("blk"), F.col("_vec").alias("vb"), F.col("norm").alias("nb")
    )
    pairs = a.join(b, "blk").where(F.col("id_a") < F.col("id_b"))
    sim = pairs.withColumn("cos_sim", cosine("va", "vb") / (F.col("na") * F.col("nb")))
    return sim.filter(F.col("cos_sim") >= threshold).select("id_a", "id_b", "cos_sim")


def neardup_pairs_sql(threshold: float = 0.9) -> str:
    return f"""
WITH v AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings),
n AS (SELECT vec_id, label, vec, sqrt(list_dot_product(vec, vec)) AS norm FROM v)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       (round((list_dot_product(a.vec, b.vec) / (a.norm * b.norm)) + 1.0e-9,6)+0.0e0) AS cos_sim
FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE list_dot_product(a.vec, b.vec) / (a.norm * b.norm) >= {threshold}
"""


def _assign_to_centroids(v: DataFrame, seeds: DataFrame) -> DataFrame:
    # round-before-rank (9dp): refined centroids are float means whose
    # last-ulp differs between engines; an unrounded near-tie at a cell
    # boundary would flip the assignment in one engine only (same class
    # as the pq_train_assign fix, ADVICE r07).
    #
    # The centroid table is bounded (n_cells rows), so it is folded into ONE
    # row holding an array of (cell_id, svec, snorm) structs, broadcast onto
    # the corpus (single-row BNLJ — no corpus shuffle), and the argmax runs
    # as a per-row array fold instead of the old n_cells·N-row
    # exchange + sort + row_number window (opt guide §2.4: the exchange and
    # its sort disappear; the corpus stays narrow end to end, which is the
    # 100 TB shape). The score expression (zip_with/aggregate dot,
    # /(norm·snorm), +1e-12, round 9) is term-for-term the same, so values
    # are bit-identical to the join form; collect_list order is fixed by
    # array_sort on the struct (cell_id leads and is unique). Tie-break:
    # array_max on (cs, -cell_id) == the old orderBy(cs DESC, cell_id ASC)
    # row_number()=1. Everything stays LAZY — no driver collect, no
    # literal-blowup in the plan (both were measured slower: plan-time
    # dominated at bench scale).
    cents = seeds.agg(
        F.array_sort(F.collect_list(F.struct("cell_id", "svec", "snorm"))).alias(
            "_cents"
        )
    )
    # one F.expr (single SQL parse) instead of nested Column-API lambdas:
    # building the same tree through py4j costs ~0.5s of driver time per
    # assign pass, which dominated at bench scale
    best = F.expr(
        "array_max(transform(_cents, c -> struct("
        "round(aggregate(zip_with(_vec, c.svec, (x, y) -> x * y), 0.0e0, "
        "(acc, x) -> acc + x) / (norm * c.snorm) + 1.0e-12, 9) AS cs, "
        "-c.cell_id AS nid)))"
    )
    return v.crossJoin(F.broadcast(cents)).select(
        "vec_id", "_vec", "norm", (-best["nid"]).cast("bigint").alias("cell_id")
    )


def _centroid_mean(assigned: DataFrame, key: str, out: str) -> DataFrame:
    """Lloyd step: each group's centroid is the element-wise mean of the
    `_vec` arrays assigned to it. → (key bigint, out array<double>).

    posexplode → (key, dim_idx) partial-agg avg, then the k·dim result is
    pinned to the DRIVER (bounded state, the pattern MLlib's own KMeans
    uses) and re-injected via createDataFrame. Kept as lineage instead,
    every earlier round would sit inside the next round's plan, and each
    downstream branch would re-scan the corpus once per round. collect()
    round-trips the exact IEEE doubles, so values are bit-identical to
    the lineage form; one job per round replaces per-branch recompute."""
    comp = assigned.select(key, F.posexplode("_vec").alias("i", "x"))
    mean_rows = comp.groupBy(key, "i").agg(F.avg("x").alias("m")).collect()
    by_c: dict[int, list[tuple[int, float]]] = {}
    for r in mean_rows:
        by_c.setdefault(r[key], []).append((r["i"], r["m"]))
    rows = [(cid, [m for _, m in sorted(pts)]) for cid, pts in sorted(by_c.items())]
    return assigned.sparkSession.createDataFrame(rows, f"{key} bigint, {out} array<double>")


def _recompute_centroids(assigned: DataFrame) -> DataFrame:
    """IVF Lloyd step: _centroid_mean per cell plus snorm, recomputed from
    the re-injected svec with the same Spark expression as with_norm."""
    cent = _centroid_mean(assigned, "cell_id", "svec")
    return cent.withColumn("snorm", F.sqrt(cosine("svec", "svec")))


def ivf_assign(
    df: DataFrame, n_cells: int = 8, vec: str = "embedding", refine_iters: int = 1
) -> DataFrame:
    """Coarse quantization: deterministic seeds (the first n_cells vectors)
    + `refine_iters` Lloyd iterations (centroid = mean of assigned cell,
    re-assign). One refinement typically fixes the arbitrary-seed cell
    shapes at the cost of one extra broadcast join pass over the corpus.

    → corpus with cell_id. At cluster scale, write bucketed by cell_id.
    """
    v = with_norm(df, vec)
    seeds = v.filter(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cell_id"), F.col("_vec").alias("svec"), F.col("norm").alias("snorm")
    )
    assigned = _assign_to_centroids(v, seeds)
    for _ in range(refine_iters):
        seeds = _recompute_centroids(assigned)
        assigned = _assign_to_centroids(v, seeds)
    return assigned, seeds


def ivf_topk(
    df: DataFrame, n_queries: int, k: int = 5, n_cells: int = 8, nprobe: int = 3, vec: str = "embedding"
) -> DataFrame:
    """IVF ANN search: probe the nprobe nearest cells per query only.

    Recall < 1 by design (ANN); tests assert recall vs brute force.
    """
    assigned, cents = ivf_assign(df, n_cells, vec)
    assigned = assigned.cache()
    seeds = cents.select(
        F.col("cell_id").alias("probe_cell"), "svec", "snorm"
    )
    q = assigned.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("_vec").alias("qvec"), F.col("norm").alias("qnorm")
    )
    probes = (
        q.crossJoin(F.broadcast(seeds))
        # round-before-rank: probe order vs refined float-mean centroids
        .withColumn("cs", F.round(cosine("qvec", "svec") / (F.col("qnorm") * F.col("snorm")) + F.lit(1e-12), 9))
        .withColumn(
            "rn", F.row_number().over(Window.partitionBy("query_id").orderBy(F.desc("cs"), F.asc("probe_cell")))
        )
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "qvec", "qnorm", F.col("probe_cell").alias("cell_id"))
    )
    cand = probes.join(assigned, "cell_id").where(F.col("vec_id") != F.col("query_id"))
    sim = cand.withColumn("cos_sim", cosine("qvec", "_vec") / (F.col("qnorm") * F.col("norm")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "cos_sim", "rank")
    )


def ivf_recall(
    df: DataFrame, n_queries: int, k: int = 5, n_cells: int = 8, nprobe: int = 3,
    vec: str = "embedding",
) -> DataFrame:
    """Recall@k of the IVF ANN path against exact brute-force truth — the
    number that justifies (or vetoes) probing nprobe of n_cells instead of
    scanning everything. At 100 TB you tune (n_cells, nprobe) until this
    eval says the recall is acceptable, then ship the IVF plan; pairs with
    embed_trunc_recall (dimension axis) and doc_lsh_recall (LSH axis).
    → (query_id, hits, recall_at_k)."""
    truth = brute_force_topk(
        df, df.filter(F.col("vec_id") < n_queries), k=k, vec=vec
    ).select("query_id", "neighbor_id")
    approx = ivf_topk(df, n_queries, k=k, n_cells=n_cells, nprobe=nprobe, vec=vec).select(
        F.col("query_id").alias("i_qid"), F.col("neighbor_id").alias("i_nid")
    )
    hits = F.count(F.col("i_nid")).cast("bigint")
    return (
        truth.join(
            approx,
            (F.col("query_id") == F.col("i_qid"))
            & (F.col("neighbor_id") == F.col("i_nid")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            hits.alias("hits"),
            (F.round(hits / F.lit(float(k)) + F.lit(1e-9), 6) + F.lit(0.0)).alias(
                "recall_at_k"
            ),
        )
        .orderBy("query_id")
    )


def ivf_recall_sql(
    n_queries: int, k: int = 5, n_cells: int = 8, nprobe: int = 3
) -> str:
    return f"""
WITH bf AS MATERIALIZED ({brute_force_topk_sql(n_queries, k)}),
ivf AS MATERIALIZED ({ivf_topk_sql(n_queries, k, n_cells, nprobe)})
SELECT b.query_id, CAST(count(i.neighbor_id) AS BIGINT) AS hits,
       (round(count(i.neighbor_id) / {float(k)}e0 + 1.0e-9, 6) + 0.0e0) AS recall_at_k
FROM bf b LEFT JOIN ivf i
  ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
GROUP BY b.query_id ORDER BY b.query_id
"""


def ivf_cell_profile(df: DataFrame, n_cells: int = 8, vec: str = "embedding") -> DataFrame:
    """IVF index-maintenance readout: per-cell population, corpus share,
    and mean cosine to the cell centroid after the certified ivf_assign
    (deterministic seeds + one Lloyd refinement). At 100 TB this is the
    table that decides when to re-train the coarse quantizer — skewed
    frac_vecs means hot cells dominate probe cost, and a falling
    mean_cent_sim means the centroids no longer fit the data (drift).

    Scale shape: one broadcast join of the assignment against the tiny
    centroid table, one groupBy on cell_id (n_cells rows). The corpus
    share is computed with a window over the n_cells-row aggregate, not a
    second corpus pass. -> (cell_id, n_vecs, frac_vecs, mean_cent_sim)."""
    assigned, seeds = ivf_assign(df, n_cells, vec)
    sim = assigned.join(F.broadcast(seeds), "cell_id").withColumn(
        "cs",
        F.round(cosine("_vec", "svec") / (F.col("norm") * F.col("snorm")) + F.lit(1e-12), 9),
    )
    agg = sim.groupBy("cell_id").agg(
        F.count("*").alias("n_vecs"), F.avg("cs").alias("mcs")
    )
    w = Window.partitionBy()
    return agg.select(
        F.col("cell_id").cast("bigint").alias("cell_id"),
        F.col("n_vecs").cast("bigint").alias("n_vecs"),
        (
            F.round(
                F.col("n_vecs").cast("double") / F.sum("n_vecs").over(w) + F.lit(1e-9), 6
            )
            + F.lit(0.0)
        ).alias("frac_vecs"),
        (F.round(F.col("mcs") + F.lit(1e-9), 6) + F.lit(0.0)).alias("mean_cent_sim"),
    )


def ivf_cell_profile_sql(n_cells: int = 8, dim: int = 64) -> str:
    return f"""
WITH {_ivf_chain_sql(n_cells, dim)},
sim AS (
  SELECT a1.cell_id,
         round(list_dot_product(a1.vec, c.svec) / (a1.norm * c.snorm) + 1.0e-12, 9) AS cs
  FROM a1 JOIN c1 c USING (cell_id)),
agg AS (SELECT cell_id, count(*) AS n_vecs, avg(cs) AS mcs FROM sim GROUP BY cell_id)
SELECT CAST(cell_id AS BIGINT) AS cell_id,
       CAST(n_vecs AS BIGINT) AS n_vecs,
       (round(CAST(n_vecs AS DOUBLE) / sum(n_vecs) OVER () + 1.0e-9, 6) + 0.0e0)
         AS frac_vecs,
       (round(mcs + 1.0e-9, 6) + 0.0e0) AS mean_cent_sim
FROM agg
"""


# --- int8 quantization (storage/bandwidth path for ANN at scale) ----------
EMB_DIM = 64
MMR_LAMBDA, MMR_C, MMR_K = 0.7, 16, 8


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    lam: float = MMR_LAMBDA,
    n_cand: int = MMR_C,
    k: int = MMR_K,
    vec: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998):
    per query, greedily select k of the top-n_cand cosine candidates
    maximizing  lam·sim(q,d) − (1−lam)·max_{s∈S} sim(d,s)  — relevance
    traded against redundancy, the standard diversity pass between
    retrieval and a RAG context window. Emits (query_id, pick_order,
    neighbor_id): integers only, so the driver compare is float-free.

    Execution: candidate generation is the brute-force top-n_cand (swap in
    ann_ivf/ann_lsh at scale — MMR only ever sees n_cand rows per query);
    the greedy runs in applyInPandas per query over an n_cand×n_cand sim
    matrix — constant work per query, queries are the distributed axis.
    Every similarity is recomputed in-kernel with a SEQUENTIAL
    multiply-add fold over the 64 dims (pure IEEE ops, no libm), so the
    DuckDB oracle's identically-ordered list folds see bit-identical
    scores and the greedy argmax (ties → smallest id) picks the same
    documents on both engines."""
    import pandas as pd

    cand = brute_force_topk(corpus, queries, k=n_cand, vec=vec).select(
        "query_id", "neighbor_id"
    )
    v = corpus.select("vec_id", _to_double(vec).alias("v"))
    qv = queries.select(
        F.col("vec_id").alias("query_id"), _to_double(vec).alias("qv")
    )
    t = (
        cand.join(v, cand.neighbor_id == v.vec_id)
        .join(F.broadcast(qv), "query_id")
        .select("query_id", "neighbor_id", "v", "qv")
    )
    oml = 1.0 - lam

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + float(x) * float(y)
        return acc

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("neighbor_id")
        qid = int(pdf["query_id"].iloc[0])
        ids = [int(i) for i in pdf["neighbor_id"]]
        vecs = [list(x) for x in pdf["v"]]
        q = list(pdf["qv"].iloc[0])
        qn = math.sqrt(fold_dot(q, q))
        norms = [math.sqrt(fold_dot(x, x)) for x in vecs]
        qsim = [fold_dot(q, x) / (qn * n) for x, n in zip(vecs, norms)]
        m = len(ids)
        psim = [[0.0] * m for _ in range(m)]
        for i in range(m):
            for j in range(m):
                if i != j:
                    psim[i][j] = fold_dot(vecs[i], vecs[j]) / (norms[i] * norms[j])
        sel: list[int] = []
        rows = []
        for step in range(1, min(k, m) + 1):
            best_i, best_s = -1, None
            for i in range(m):
                if i in sel:
                    continue
                if step == 1:
                    s = qsim[i]
                else:
                    mx = max(psim[i][j] for j in sel)
                    s = lam * qsim[i] - oml * mx
                if best_s is None or s > best_s:  # ties keep smallest id
                    best_i, best_s = i, s
            sel.append(best_i)
            rows.append((qid, step, ids[best_i]))
        return pd.DataFrame(rows, columns=["query_id", "pick_order", "neighbor_id"])

    return t.groupBy("query_id").applyInPandas(
        greedy, "query_id bigint, pick_order bigint, neighbor_id bigint"
    )


def mmr_rerank_sql(
    n_queries: int,
    lam: float = MMR_LAMBDA,
    n_cand: int = MMR_C,
    k: int = MMR_K,
    dim: int = EMB_DIM,
) -> str:
    """DuckDB oracle: candidates via the same brute top-n_cand, then the
    greedy unrolled as k chained CTEs (the unrolled-Lloyd technique);
    every dot product is the same sequential fold the Spark kernel runs."""
    from . import expr as E

    L, OML = E.NUM(lam), E.NUM(1.0 - lam)

    def fold(a, b):
        return (
            f"list_reduce(list_prepend(0.0e0, list_transform(range(1, {dim + 1}), "
            f"i -> {a}[i] * {b}[i])), (acc, e) -> acc + e)"
        )

    steps = []
    for s in range(1, k):
        steps.append(f"""
pick{s} AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, q.neighbor_id,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY ({L} * q.qsim - {OML} * m.msim) DESC, q.neighbor_id) AS rn
    FROM qs q
    JOIN (SELECT p.query_id, p.id_a AS neighbor_id, max(p.sim) AS msim
          FROM ps p JOIN sel{s} s ON p.query_id = s.query_id
                                  AND list_contains(s.sel, p.id_b)
          GROUP BY p.query_id, p.id_a) m
      ON m.query_id = q.query_id AND m.neighbor_id = q.neighbor_id
    JOIN sel{s} s2 ON s2.query_id = q.query_id
                   AND NOT list_contains(s2.sel, q.neighbor_id))
  WHERE rn = 1),
sel{s + 1} AS MATERIALIZED (
  SELECT s.query_id, list_append(s.sel, p.neighbor_id) AS sel
  FROM sel{s} s JOIN pick{s} p ON p.query_id = s.query_id),""")
    emits = "\nUNION ALL\n".join(
        f"SELECT query_id, {s + 1} AS pick_order, sel[{s + 1}] AS neighbor_id FROM sel{s + 1}"
        for s in range(0, k)
        if s > 0
    )
    return f"""
WITH vv AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings),
nn AS MATERIALIZED (SELECT vec_id, v, sqrt({fold('v', 'v')}) AS nrm FROM vv),
cand AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY {fold('q.v', 'c.v')} / (q.nrm * c.nrm) DESC, c.vec_id) AS rank
    FROM nn q JOIN nn c ON q.vec_id < {n_queries} AND c.vec_id <> q.vec_id)
  WHERE rank <= {n_cand}),
qs AS MATERIALIZED (
  SELECT c.query_id, c.neighbor_id,
         {fold('q.v', 'd.v')} / (q.nrm * d.nrm) AS qsim
  FROM cand c
  JOIN nn q ON q.vec_id = c.query_id
  JOIN nn d ON d.vec_id = c.neighbor_id),
ps AS MATERIALIZED (
  SELECT a.query_id, a.neighbor_id AS id_a, b.neighbor_id AS id_b,
         {fold('va.v', 'vb.v')} / (va.nrm * vb.nrm) AS sim
  FROM cand a
  JOIN cand b ON a.query_id = b.query_id AND a.neighbor_id <> b.neighbor_id
  JOIN nn va ON va.vec_id = a.neighbor_id
  JOIN nn vb ON vb.vec_id = b.neighbor_id),
sel1 AS MATERIALIZED (
  SELECT query_id, [neighbor_id] AS sel FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY qsim DESC, neighbor_id) AS rn
    FROM qs) WHERE rn = 1),
{"".join(steps)}
fin AS (
  SELECT query_id, 1 AS pick_order, sel[1] AS neighbor_id FROM sel1
  UNION ALL
  {emits})
SELECT query_id, pick_order, neighbor_id FROM fin
"""


TRUNC_DIMS, TRUNC_K = 16, 10


def trunc_recall(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = TRUNC_K,
    dims: int = TRUNC_DIMS,
    vec: str = "embedding",
) -> DataFrame:
    """Matryoshka-style dimension-truncation recall: per query, the overlap
    between cosine top-k under the FULL vector and under only its first
    `dims` coordinates (Kusupati et al., NeurIPS 2022). The go/no-go check
    before using truncated prefixes as a cheap ANN prefilter — at 100 TB
    you retrieve with 16 dims (4× less shuffle/scan) and re-rank the
    survivors with all 64, but only if recall@k holds.

    One pass: both similarities are computed on the same broadcast-join
    pair table, rounded to 6dp BEFORE ranking (cross-engine rank ties),
    then two keyed windows (same partition key → one shuffle) rank each
    metric. → (query_id, overlap, recall_at_k)."""

    def dot(a, b):
        return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)

    def cos6(a, b):
        return F.round(dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b))) + F.lit(1e-9), 6)

    v = emb.select("vec_id", _to_double(vec).alias("v"))
    q = v.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    pairs = v.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
    # dims == full width (storage_frontier's float32_full anchor row):
    # slice(·, 1, dims) is the whole vector, so st IS sf — reference the
    # already-projected column instead of building a second identical fold
    # tree (interpreted HOFs get no subexpression elimination, so the
    # duplicate tree would evaluate the ~3·dim-op fold twice per pair;
    # same value, same tiebreak, bit-identical ranks)
    sim = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cos6(F.col("qv"), F.col("v")).alias("sf"),
        *(
            []
            if dims >= EMB_DIM
            else [cos6(F.slice(F.col("qv"), 1, dims), F.slice(F.col("v"), 1, dims)).alias("st")]
        ),
    )
    if dims >= EMB_DIM:
        sim = sim.withColumn("st", F.col("sf"))
    wf = Window.partitionBy("query_id").orderBy(F.desc("sf"), F.asc("neighbor_id"))
    wt = Window.partitionBy("query_id").orderBy(F.desc("st"), F.asc("neighbor_id"))
    ranked = sim.withColumn("rf", F.row_number().over(wf)).withColumn(
        "rt", F.row_number().over(wt)
    )
    hit = F.when((F.col("rf") <= k) & (F.col("rt") <= k), 1).otherwise(0)
    return (
        ranked.groupBy("query_id")
        .agg(F.sum(hit).cast("bigint").alias("overlap"))
        .withColumn(
            "recall_at_k",
            F.round(F.col("overlap") / F.lit(float(k)) + F.lit(1e-9), 6) + F.lit(0.0),
        )
        .orderBy("query_id")
    )


DIMS_FRONTIER = (8, 16, 32, 64)


def dims_frontier(
    emb: DataFrame, n_queries: int = 10, k: int = TRUNC_K, vec: str = "embedding"
) -> DataFrame:
    """Matryoshka storage frontier: mean recall@k of prefix-cosine
    retrieval at EVERY stored width (8/16/32/64 dims) from ONE pair
    table — the per-width generalization of embed_trunc_recall
    (Kusupati et al. 2022). At 100 TB the hot index stores a prefix and
    the full vector stays cold; this table is the storage-vs-recall
    curve that picks the width (bytes_per_vec = 4·dims for float32).
    The dims=64 row is the truth metric itself — recall exactly 1, a
    built-in self-check.

    One broadcast-join pair pass computes all four 6dp-rounded
    similarities; the four rank windows share one (query_id) exchange.
    -> (dims, bytes_per_vec, mean_recall)."""

    def dot(a, b):
        return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)

    def cos6(a, b):
        return F.round(dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b))) + F.lit(1e-9), 6)

    v = emb.select("vec_id", _to_double(vec).alias("v"))
    q = v.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    pairs = v.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
    sim = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        *[
            cos6(F.slice(F.col("qv"), 1, d), F.slice(F.col("v"), 1, d)).alias(f"s{d}")
            for d in DIMS_FRONTIER
        ],
    )
    ranked = sim
    for d in DIMS_FRONTIER:
        w = Window.partitionBy("query_id").orderBy(F.desc(f"s{d}"), F.asc("neighbor_id"))
        ranked = ranked.withColumn(f"r{d}", F.row_number().over(w))
    full = max(DIMS_FRONTIER)
    aggs = []
    for d in DIMS_FRONTIER:
        hit = F.when((F.col(f"r{full}") <= k) & (F.col(f"r{d}") <= k), 1).otherwise(0)
        aggs.append(F.sum(hit).alias(f"h{d}"))
    one = ranked.agg(*aggs)
    stack = ", ".join(f"{d}L, h{d}" for d in DIMS_FRONTIER)
    denom = float(k * n_queries)
    return (
        one.selectExpr(f"stack({len(DIMS_FRONTIER)}, {stack}) AS (dims, hits)")
        .select(
            F.col("dims").cast("bigint").alias("dims"),
            (F.col("dims") * 4).cast("bigint").alias("bytes_per_vec"),
            (
                F.round(F.col("hits").cast("double") / F.lit(denom) + F.lit(1e-9), 6)
                + F.lit(0.0)
            ).alias("mean_recall"),
        )
    )


def dims_frontier_sql(n_queries: int = 10, k: int = TRUNC_K, dim: int = EMB_DIM) -> str:
    def fold(a, b, n):
        return (
            f"list_reduce(list_prepend(0.0e0, list_transform(range(1, {n + 1}), "
            f"i -> {a}[i] * {b}[i])), (acc, e) -> acc + e)"
        )

    def cos6(a, b, n):
        return (
            f"round({fold(a, b, n)} / (sqrt({fold(a, a, n)}) * sqrt({fold(b, b, n)}))"
            f" + 1.0e-9, 6)"
        )

    sims = ",\n         ".join(
        f"{cos6('q.qv', 'v.v', d)} AS s{d}" for d in DIMS_FRONTIER
    )
    ranks = ",\n         ".join(
        f"row_number() OVER (PARTITION BY query_id ORDER BY s{d} DESC, neighbor_id ASC) AS r{d}"
        for d in DIMS_FRONTIER
    )
    full = max(DIMS_FRONTIER)
    hits = ",\n         ".join(
        f"sum(CASE WHEN r{full} <= {k} AND r{d} <= {k} THEN 1 ELSE 0 END) AS h{d}"
        for d in DIMS_FRONTIER
    )
    rows = "\n  UNION ALL ".join(
        f"SELECT {d} AS dims, h{d} AS hits FROM agg" for d in DIMS_FRONTIER
    )
    return f"""
WITH v AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id < {n_queries}),
sim AS (
  SELECT q.query_id, v.vec_id AS neighbor_id,
         {sims}
  FROM v JOIN q ON v.vec_id <> q.query_id),
ranked AS (
  SELECT query_id, neighbor_id,
         {ranks}
  FROM sim),
agg AS (
  SELECT {hits}
  FROM ranked)
SELECT CAST(dims AS BIGINT) AS dims,
       CAST(dims * 4 AS BIGINT) AS bytes_per_vec,
       (round(CAST(hits AS DOUBLE) / {float(k * n_queries)}e0 + 1.0e-9, 6) + 0.0e0)
         AS mean_recall
FROM ({rows})
"""


def storage_frontier(emb: DataFrame, vec: str = "embedding") -> DataFrame:
    """The cross-method ANN storage decision table: bytes per vector vs
    mean recall for every compressed representation the engine evaluates —
    float32 full (computed anchor: the truth metric against itself),
    float32 16-dim Matryoshka prefix, asymmetric int8, and 4x16 PQ codes
    under ADC. Each row is the MEAN of that method's certified per-query
    eval (embed_trunc_recall / ann_int8_recall / ann_pq_recall), with its
    protocol recorded (truth_metric, n_queries, k) — PQ is an L2 system,
    the float reductions are cosine; the column makes the difference
    explicit instead of papering over it. At 100 TB this is the first
    table read when sizing the hot index: 256 B -> 4 B per vector spans
    the whole cost axis, and recall is the other axis.

    Scale shape: a union of four already-bounded eval pipelines, each
    reduced to one row. The input table is pinned once (lazy
    localCheckpoint — .persist() on a cluster): without it the union
    re-scans the embedding parquet 11 times in one plan (recompute
    census), once per branch of the four evals' diamond DAGs.
    -> (method, bytes_per_vec, truth_metric, n_queries, k, mean_recall)."""
    emb = emb.localCheckpoint(eager=False)
    parts = [
        # bytes_per_vec parameterized on EMB_DIM, mirroring storage_frontier_sql's
        # dim parameter — the two engines must not diverge if EMB_DIM changes
        ("float32_full", EMB_DIM * 4, "cosine", 10, TRUNC_K,
         trunc_recall(emb, dims=EMB_DIM, vec=vec)),
        ("float32_trunc16", 16 * 4, "cosine", 10, TRUNC_K,
         trunc_recall(emb, vec=vec)),
        # EMB_DIM int8 codes + one float64 scale
        ("int8_asym", EMB_DIM + 8, "cosine", 16, 8, int8_recall(emb, vec=vec)),
        # 4 sub-quantizers x 16 centroids: one byte per code; codebook amortized
        ("pq4x16_adc", 4, "l2", 16, 8, pq_recall(emb, vec=vec)),
    ]
    out = None
    for method, bytes_pv, metric, nq, k, df in parts:
        row = df.agg(
            (F.round(F.avg("recall_at_k") + F.lit(1e-9), 6) + F.lit(0.0)).alias(
                "mean_recall"
            )
        ).select(
            F.lit(method).alias("method"),
            F.lit(bytes_pv).cast("bigint").alias("bytes_per_vec"),
            F.lit(metric).alias("truth_metric"),
            F.lit(nq).cast("bigint").alias("n_queries"),
            F.lit(k).cast("bigint").alias("k"),
            "mean_recall",
        )
        out = row if out is None else out.unionAll(row)
    return out


def storage_frontier_sql(dim: int = EMB_DIM) -> str:
    parts = [
        ("float32_full", dim * 4, "cosine", 10, TRUNC_K,
         trunc_recall_sql(10, dims=dim)),
        ("float32_trunc16", 16 * 4, "cosine", 10, TRUNC_K, trunc_recall_sql(10)),
        ("int8_asym", dim + 8, "cosine", 16, 8, int8_recall_sql()),
        ("pq4x16_adc", 4, "l2", 16, 8, pq_recall_sql()),
    ]
    selects = []
    for method, bytes_pv, metric, nq, k, sql in parts:
        selects.append(
            f"""SELECT '{method}' AS method,
       CAST({bytes_pv} AS BIGINT) AS bytes_per_vec,
       '{metric}' AS truth_metric,
       CAST({nq} AS BIGINT) AS n_queries,
       CAST({k} AS BIGINT) AS k,
       (round(avg(recall_at_k) + 1.0e-9, 6) + 0.0e0) AS mean_recall
FROM ({sql})"""
        )
    return "\nUNION ALL\n".join(selects)


def trunc_recall_sql(
    n_queries: int = 10, k: int = TRUNC_K, dims: int = TRUNC_DIMS, dim: int = EMB_DIM
) -> str:
    """DuckDB oracle: identical sequential multiply-add folds (same IEEE
    order as the Spark aggregate), 6dp rounding before both rankings."""

    def fold(a, b, n):
        return (
            f"list_reduce(list_prepend(0.0e0, list_transform(range(1, {n + 1}), "
            f"i -> {a}[i] * {b}[i])), (acc, e) -> acc + e)"
        )

    def cos6(a, b, n):
        return (
            f"round({fold(a, b, n)} / (sqrt({fold(a, a, n)}) * sqrt({fold(b, b, n)}))"
            f" + 1.0e-9, 6)"
        )

    return f"""
WITH v AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings),
p AS MATERIALIZED (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {cos6('q.v', 'c.v', dim)} AS sf,
         {cos6('q.v', 'c.v', dims)} AS st
  FROM v q JOIN v c ON q.vec_id < {n_queries} AND c.vec_id <> q.vec_id),
r AS (
  SELECT query_id,
         row_number() OVER (PARTITION BY query_id ORDER BY sf DESC, neighbor_id) AS rf,
         row_number() OVER (PARTITION BY query_id ORDER BY st DESC, neighbor_id) AS rt
  FROM p)
SELECT query_id,
       CAST(sum(CASE WHEN rf <= {k} AND rt <= {k} THEN 1 ELSE 0 END) AS BIGINT) AS overlap,
       (round(sum(CASE WHEN rf <= {k} AND rt <= {k} THEN 1 ELSE 0 END) / {float(k)}e0
              + 1.0e-9, 6) + 0.0e0) AS recall_at_k
FROM r GROUP BY query_id ORDER BY query_id
"""


def quantize_int8(df: DataFrame, vec: str = "embedding") -> DataFrame:
    """Per-vector symmetric int8 quantization: scale = max|v|/127,
    q_i = floor(v_i/scale + 0.5). The write-side of a quantized ANN index —
    4× less storage/shuffle bandwidth for candidate generation, with the
    float vector kept only for re-ranking.

    Pure per-row array expressions (no shuffle). floor(x + 0.5) instead of
    round() so both engines break .5 ties identically. Emits per-vector
    checksums + reconstruction MSE (sequential left fold in BOTH engines →
    bit-identical) rather than the int array itself, keeping result rows
    small."""
    v = F.transform(F.col(vec), lambda x: x.cast("double"))
    df = df.withColumn("_v", v).withColumn(
        "scale",
        F.aggregate("_v", F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))) / 127.0,
    )
    q = F.transform("_v", lambda x: F.floor(x / F.col("scale") + 0.5).cast("long"))
    df = df.withColumn("_q", q)
    err2 = F.zip_with("_v", "_q", lambda a, b: (a - b * F.col("scale")) * (a - b * F.col("scale")))
    return df.select(
        "vec_id",
        "scale",
        F.aggregate("_q", F.lit(0).cast("long"), lambda acc, x: acc + x).alias("q_sum"),
        F.array_min("_q").alias("q_min"),
        F.array_max("_q").alias("q_max"),
        (
            F.aggregate(err2, F.lit(0.0), lambda acc, x: acc + x) / F.size("_v")
        ).alias("recon_mse"),
    )


QUANTIZE_SQL = """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
  FROM embeddings),
s AS (
  SELECT vec_id, vv,
         list_max(list_transform(vv, x -> abs(x))) / 127.0e0 AS scale
  FROM v),
q AS (
  SELECT vec_id, vv, scale,
         list_transform(vv, x -> CAST(floor(x / scale + 5.0e-1) AS BIGINT)) AS qq
  FROM s)
SELECT vec_id, (round((scale) + 1.0e-9,9)+0.0e0) AS scale,
       CAST(list_sum(qq) AS BIGINT) AS q_sum,
       CAST(list_min(qq) AS BIGINT) AS q_min,
       CAST(list_max(qq) AS BIGINT) AS q_max,
       (round((list_sum(list_transform(vv,
            x -> (x - floor(x / scale + 5.0e-1) * scale)
               * (x - floor(x / scale + 5.0e-1) * scale))) / len(vv)) + 1.0e-9,9)+0.0e0) AS recon_mse
FROM q
"""


def int8_recall(
    df: DataFrame, n_queries: int = 16, k: int = 8, vec: str = "embedding"
) -> DataFrame:
    """Recall@k of asymmetric int8 search — full-precision query scored
    against the int8-RECONSTRUCTED corpus (q_i·scale) — vs exact cosine
    truth. The scalar-quantization axis of the ANN eval family
    (quantize_int8 is the write side): at 100 TB the candidate scan reads
    4x fewer bytes, and this eval is the number that tells you whether
    the float vectors can stay cold (re-rank only) or must be read back.

    Approx ranks round at 6dp before ranking with vec_id tiebreak —
    quantization makes GENUINE score ties likely (distinct vectors can
    reconstruct identically), unlike the continuous exact side which uses
    the raw-rank brute-force precedent. -> (query_id, hits, recall_at_k).

    All-zero vectors (scale 0 → NaN reconstruction) are out of contract,
    matching the with_norm convention — see its docstring."""
    v = with_norm(df, vec)
    rec = (
        v.withColumn(
            "scale",
            F.aggregate("_vec", F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x)))
            / 127.0,
        )
        .withColumn(
            "rvec",
            F.transform("_vec", lambda x: F.floor(x / F.col("scale") + 0.5) * F.col("scale")),
        )
        .withColumn(
            "rnorm",
            F.sqrt(
                F.aggregate(
                    F.zip_with("rvec", "rvec", lambda a, b: a * b),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ),
        )
        .select("vec_id", "rvec", "rnorm")
    )
    q = v.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("_vec").alias("qvec"),
        F.col("norm").alias("qnorm"),
    )
    sim = (
        rec.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .withColumn("cs", cosine("qvec", "rvec") / (F.col("qnorm") * F.col("rnorm")))
        .withColumn("c6", F.round(F.col("cs") + F.lit(1e-9), 6) + F.lit(0.0))
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("c6"), F.asc("vec_id"))
    approx = (
        sim.withColumn("rank", F.row_number().over(wq))
        .filter(F.col("rank") <= k)
        .select(F.col("query_id").alias("a_qid"), F.col("vec_id").alias("a_nid"))
    )
    truth = brute_force_topk(df, df.filter(F.col("vec_id") < n_queries), k=k, vec=vec).select(
        "query_id", "neighbor_id"
    )
    hits = F.count(F.col("a_nid")).cast("bigint")
    return (
        truth.join(
            approx,
            (F.col("query_id") == F.col("a_qid"))
            & (F.col("neighbor_id") == F.col("a_nid")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            hits.alias("hits"),
            (F.round(hits / F.lit(float(k)) + F.lit(1e-9), 6) + F.lit(0.0)).alias(
                "recall_at_k"
            ),
        )
        .orderBy("query_id")
    )


def int8_recall_sql(n_queries: int = 16, k: int = 8) -> str:
    """DuckDB oracle twin of int8_recall: same scale/floor reconstruction
    arithmetic (exact in both engines), 6dp round-before-rank on the
    quantized side, raw-rank exact-cosine truth (brute_force_topk_sql
    precedent), same recall tail."""
    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings),
n AS (
  SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS norm FROM v),
r AS (
  SELECT vec_id,
         list_transform(vec, x -> floor(x / scale + 5.0e-1) * scale) AS rvec
  FROM (SELECT vec_id, vec,
               list_max(list_transform(vec, x -> abs(x))) / 127.0e0 AS scale
        FROM v)),
rn AS (
  SELECT vec_id, rvec, sqrt(list_dot_product(rvec, rvec)) AS rnorm FROM r),
ap AS MATERIALIZED (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY c6 DESC, vec_id ASC) AS rank
  FROM (
    SELECT q.vec_id AS query_id, c.vec_id,
           round(list_dot_product(q.vec, c.rvec) / (q.norm * c.rnorm)
                 + 1.0e-9, 6) + 0.0e0 AS c6
    FROM n q JOIN rn c ON q.vec_id < {n_queries} AND c.vec_id <> q.vec_id)),
tr AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY list_dot_product(q.vec, c.vec) / (q.norm * c.norm) DESC,
                                       c.vec_id ASC) AS rank
    FROM n q JOIN n c ON q.vec_id < {n_queries} AND c.vec_id <> q.vec_id)
  WHERE rank <= {k})
SELECT t.query_id,
       CAST(count(a.vec_id) AS BIGINT) AS hits,
       round(count(a.vec_id) / {float(k)}e0 + 1.0e-9, 6) + 0.0e0 AS recall_at_k
FROM tr t LEFT JOIN ap a
  ON a.query_id = t.query_id AND a.vec_id = t.neighbor_id AND a.rank <= {k}
GROUP BY t.query_id ORDER BY t.query_id
"""


def ivf_probe_frontier(
    df: DataFrame, n_queries: int = 16, k: int = 8, n_cells: int = 8, vec: str = "embedding"
) -> DataFrame:
    """The IVF tuning curve: recall@k AND scan cost for EVERY nprobe in
    1..n_cells, from one candidate evaluation — the table you read before
    picking nprobe for a 100 TB index (ann_ivf_recall gives one point;
    this gives the frontier). Each candidate (query, vector) pair carries
    its cell's probe rank p and is exploded to the nprobe values p..n_cells
    it participates in (bounded x n_cells blowup of a bounded-broadcast
    candidate set); per (query, nprobe) the top-k re-ranks and recall is
    averaged over queries. avg_candidates is the per-query scanned-vector
    count — the cost axis. Final per-(query,nprobe) rank is raw cosine
    (ivf_topk precedent: margins between distinct vectors dwarf ulps);
    probe ranks round at 9dp (refined float-mean centroids).
    -> (nprobe, avg_candidates, mean_recall_at_k) ordered by nprobe."""
    assigned, cents = ivf_assign(df, n_cells, vec)
    assigned = assigned.localCheckpoint(eager=False)
    q = assigned.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("_vec").alias("qvec"),
        F.col("norm").alias("qnorm"),
    )
    probe_rank = (
        q.crossJoin(F.broadcast(cents.select(F.col("cell_id").alias("probe_cell"), "svec", "snorm")))
        .withColumn(
            "cs",
            F.round(cosine("qvec", "svec") / (F.col("qnorm") * F.col("snorm")) + F.lit(1e-12), 9),
        )
        .withColumn(
            "p",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.desc("cs"), F.asc("probe_cell"))
            ),
        )
        .select("query_id", "qvec", "qnorm", F.col("probe_cell").alias("cell_id"), "p")
    )
    cand = (
        probe_rank.join(assigned, "cell_id")
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn("cos_sim", cosine("qvec", "_vec") / (F.col("qnorm") * F.col("norm")))
        .select("query_id", "vec_id", "p", "cos_sim")
        .withColumn("nprobe", F.explode(F.expr(f"sequence(p, {n_cells})")))
    )
    w = Window.partitionBy("query_id", "nprobe").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    topk = (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("query_id").alias("t_qid"),
            F.col("nprobe").alias("t_np"),
            F.col("vec_id").alias("a_nid"),
        )
    )
    truth = brute_force_topk(df, df.filter(F.col("vec_id") < n_queries), k=k, vec=vec).select(
        "query_id", "neighbor_id"
    )
    grid = truth.crossJoin(
        F.broadcast(
            truth.sparkSession.range(1, n_cells + 1).select(F.col("id").cast("int").alias("nprobe"))
        )
    )
    hits = (
        grid.join(
            topk,
            (F.col("query_id") == F.col("t_qid"))
            & (F.col("neighbor_id") == F.col("a_nid"))
            & (F.col("nprobe") == F.col("t_np")),
            "left",
        )
        .groupBy("nprobe")
        .agg(F.count("a_nid").alias("total_hits"))
    )
    cost = cand.groupBy("nprobe").agg(F.count("*").alias("n_cand"))
    return (
        hits.join(cost, "nprobe")
        .select(
            "nprobe",
            (
                F.round(F.col("n_cand") / F.lit(float(n_queries)) + F.lit(1e-9), 6)
                + F.lit(0.0)
            ).alias("avg_candidates"),
            (
                F.round(
                    F.col("total_hits") / F.lit(float(k * n_queries)) + F.lit(1e-9), 6
                )
                + F.lit(0.0)
            ).alias("mean_recall_at_k"),
        )
        .orderBy("nprobe")
    )


def ivf_probe_frontier_sql(n_queries: int = 16, k: int = 8, n_cells: int = 8, dim: int = EMB_DIM) -> str:
    """DuckDB oracle twin of ivf_probe_frontier: the certified ivf coarse
    chain, candidates exploded over their participating nprobe values, the
    same raw-cosine per-(query, nprobe) top-k and averaged recall."""
    cs = "round(list_dot_product(v.vec, c.svec) / (v.norm * c.snorm) + 1.0e-12, 9)"
    qcs = "round(list_dot_product(q.vec, c.svec) / (q.norm * c.snorm) + 1.0e-12, 9)"
    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec,
         sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                               list_transform(embedding, x -> CAST(x AS DOUBLE)))) AS norm
  FROM embeddings),
c0 AS (SELECT vec_id AS cell_id, vec AS svec, norm AS snorm FROM v WHERE vec_id < {n_cells}),
a0 AS (
  SELECT vec_id, vec, norm, cell_id FROM (
    SELECT v.vec_id, v.vec, v.norm, c.cell_id,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY {cs} DESC, c.cell_id ASC) AS rn
    FROM v CROSS JOIN c0 c) WHERE rn = 1),
m0 AS (
  SELECT cell_id, i, avg(vec[i]) AS m
  FROM a0 CROSS JOIN (SELECT unnest(range(1, {dim} + 1)) AS i) g
  GROUP BY cell_id, i),
c1 AS (
  SELECT cell_id, list(m ORDER BY i) AS svec,
         sqrt(list_dot_product(list(m ORDER BY i), list(m ORDER BY i))) AS snorm
  FROM m0 GROUP BY cell_id),
a1 AS MATERIALIZED (
  SELECT vec_id, vec, norm, cell_id FROM (
    SELECT v.vec_id, v.vec, v.norm, c.cell_id,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY {cs} DESC, c.cell_id ASC) AS rn
    FROM v CROSS JOIN c1 c) WHERE rn = 1),
pr AS (
  SELECT query_id, qvec, qnorm, cell_id, p FROM (
    SELECT q.vec_id AS query_id, q.vec AS qvec, q.norm AS qnorm, c.cell_id,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY {qcs} DESC, c.cell_id ASC) AS p
    FROM v q CROSS JOIN c1 c WHERE q.vec_id < {n_queries})),
cand AS MATERIALIZED (
  SELECT pr.query_id, a1.vec_id, g.nprobe,
         list_dot_product(pr.qvec, a1.vec) / (pr.qnorm * a1.norm) AS cos_sim
  FROM pr JOIN a1 ON a1.cell_id = pr.cell_id
  CROSS JOIN (SELECT unnest(range(1, {n_cells} + 1)) AS nprobe) g
  WHERE a1.vec_id <> pr.query_id AND g.nprobe >= pr.p),
tk AS (
  SELECT query_id, nprobe, vec_id FROM (
    SELECT query_id, nprobe, vec_id,
           row_number() OVER (PARTITION BY query_id, nprobe
                              ORDER BY cos_sim DESC, vec_id ASC) AS rank
    FROM cand) WHERE rank <= {k}),
tr AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY list_dot_product(q.vec, c.vec) / (q.norm * c.norm) DESC,
                                       c.vec_id ASC) AS rank
    FROM v q JOIN v c ON q.vec_id < {n_queries} AND c.vec_id <> q.vec_id)
  WHERE rank <= {k}),
hits AS (
  SELECT g.nprobe, count(t2.vec_id) AS total_hits
  FROM tr t CROSS JOIN (SELECT unnest(range(1, {n_cells} + 1)) AS nprobe) g
  LEFT JOIN tk t2 ON t2.query_id = t.query_id AND t2.nprobe = g.nprobe
                 AND t2.vec_id = t.neighbor_id
  GROUP BY g.nprobe),
cost AS (SELECT nprobe, count(*) AS n_cand FROM cand GROUP BY nprobe)
SELECT CAST(h.nprobe AS INT) AS nprobe,
       round(c.n_cand / {float(n_queries)}e0 + 1.0e-9, 6) + 0.0e0 AS avg_candidates,
       round(h.total_hits / {float(k * n_queries)}e0 + 1.0e-9, 6) + 0.0e0 AS mean_recall_at_k
FROM hits h JOIN cost c ON c.nprobe = h.nprobe
ORDER BY nprobe
"""


def hard_negatives(
    df: DataFrame, n_queries: int = 16, k: int = 4, vec: str = "embedding"
) -> DataFrame:
    """Hard-negative mining for contrastive training: per query, the k
    nearest corpus vectors whose label DIFFERS from the query's — the
    pairs that actually move an embedding model (easy negatives are
    already far; hard ones sit inside the margin). Standard practice for
    training retrievers/encoders (e.g. DPR, Karpukhin et al. 2020 §3.2:
    in-batch + mined hard negatives).

    Scale shape: queries broadcast (bounded set), corpus streams once;
    the label filter happens BEFORE the per-query top-k window, so the
    ranked set is already negatives-only. At 100 TB this runs per
    training shard with the shard's queries broadcast. Ranks on
    6dp-rounded cosine with vec_id tiebreak (mined pairs feed a training
    set — the selection must be partition-invariant and engine-portable).
    -> (query_id, q_label, neighbor_id, n_label, cos_sim, rank)."""
    c = with_norm(df, vec).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("n_label"),
        F.col("_vec").alias("cvec"),
        F.col("norm").alias("cnorm"),
    )
    q = with_norm(df.filter(F.col("vec_id") < n_queries), vec).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("_vec").alias("qvec"),
        F.col("norm").alias("qnorm"),
    )
    pairs = c.join(F.broadcast(q), F.col("n_label") != F.col("q_label"))
    sim = pairs.withColumn(
        "c6",
        F.round(cosine("qvec", "cvec") / (F.col("qnorm") * F.col("cnorm")) + F.lit(1e-9), 6)
        + F.lit(0.0),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("c6"), F.asc("neighbor_id"))
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "q_label", "neighbor_id", "n_label",
            F.col("c6").alias("cos_sim"), "rank",
        )
        .orderBy("query_id", "rank")
    )


def hard_negatives_sql(n_queries: int = 16, k: int = 4) -> str:
    """DuckDB oracle twin of hard_negatives: same label-filtered pair set,
    same 6dp round-before-rank cosine, same tiebreak."""
    return f"""
WITH v AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings),
n AS (
  SELECT vec_id, label, vec, sqrt(list_dot_product(vec, vec)) AS norm FROM v),
pairs AS (
  SELECT q.vec_id AS query_id, q.label AS q_label,
         c.vec_id AS neighbor_id, c.label AS n_label,
         round(list_dot_product(q.vec, c.vec) / (q.norm * c.norm) + 1.0e-9, 6)
           + 0.0e0 AS c6
  FROM n q JOIN n c ON q.vec_id < {n_queries} AND c.label <> q.label)
SELECT query_id, q_label, neighbor_id, n_label, c6 AS cos_sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY c6 DESC, neighbor_id ASC) AS rank
  FROM pairs)
WHERE rank <= {k} ORDER BY query_id, rank
"""


# --- random-hyperplane LSH ANN (complements the IVF path) -----------------
# Sign-of-projection signatures (Charikar SimHash for vectors): H
# deterministic pseudo-random hyperplanes (the engine's portable LCG normal,
# so BOTH engines build bit-identical planes), banded into H/8-bit bucket
# keys; vectors sharing any band bucket become candidates, verified with
# exact cosine. Collision probability per bit is 1 - angle/pi, so the
# banding trades recall for candidate count exactly like MinHash bands.
SALT_HYPER = 1 << 27  # disjoint from every diffusion/noise salt range
LSH_PLANES, LSH_BANDS = 32, 4


def _plane_table(spark, dim: int, n_planes: int = LSH_PLANES):
    from . import expr as E

    return (
        spark.range(n_planes * dim)
        .select(
            (F.col("id") / dim).cast("long").alias("plane"),
            F.pmod(F.col("id"), F.lit(dim)).alias("d"),
            F.expr(E.normal("id", SALT_HYPER)).alias("w"),
        )
        .groupBy("plane")
        .agg(F.array_sort(F.collect_list(F.struct("d", "w"))).alias("ws"))
        .select("plane", F.col("ws.w").alias("wvec"))
    )


def lsh_pairs(
    df: DataFrame,
    threshold: float = 0.35,
    n_planes: int = LSH_PLANES,
    bands: int = LSH_BANDS,
    vec: str = "embedding",
) -> DataFrame:
    """Hyperplane-LSH candidate pairs + exact-cosine verify.

    Cost shape: O(N·H·d) flops for signatures (corpus × broadcast planes —
    no shuffle), one groupBy to assemble bit rows, one self-equi-join on
    (band, band_bits) uniform keys, exact verify on candidates only."""
    rows = n_planes // bands
    v = with_norm(df, vec).select("vec_id", "_vec", "norm")
    v = v.localCheckpoint(eager=False)
    planes = _plane_table(df.sparkSession, len(df.select(vec).first()[0]), n_planes)
    proj = (
        v.crossJoin(F.broadcast(planes))
        .withColumn("bit", (cosine("_vec", "wvec") >= 0).cast("int"))
        .groupBy("vec_id")
        .agg(F.array_sort(F.collect_list(F.struct("plane", "bit"))).alias("bits"))
        .select("vec_id", F.col("bits.bit").alias("sig"))
    )
    banded = proj.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "",
                            *[F.element_at("sig", b * rows + r + 1) for r in range(rows)],
                        ).alias("bkey"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("vec_id", "bb.band", "bb.bkey")
    cand = (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "bkey"])
        .where(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b"))
        .distinct()
    )
    va = v.select(F.col("vec_id").alias("id_a"), F.col("_vec").alias("xa"), F.col("norm").alias("na"))
    vb = v.select(F.col("vec_id").alias("id_b"), F.col("_vec").alias("xb"), F.col("norm").alias("nb"))
    out = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cos_sim", cosine("xa", "xb") / (F.col("na") * F.col("nb")))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )
    return out


def lsh_pairs_sql(
    threshold: float = 0.35, n_planes: int = LSH_PLANES, bands: int = LSH_BANDS, dim: int = 64
) -> str:
    from . import expr as E

    rows = n_planes // bands
    band_cases = ", ".join(
        "array_to_string(sig[%d:%d], '')" % (b * rows + 1, b * rows + rows)
        for b in range(bands)
    )
    return f"""
WITH planes AS (
  SELECT range // {dim} AS plane, range % {dim} AS d,
         {E.normal("range", SALT_HYPER)} AS w
  FROM range({n_planes * dim})),
pl AS (SELECT plane, list(w ORDER BY d) AS wvec FROM planes GROUP BY plane),
v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
      FROM embeddings),
n AS (SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS nrm FROM v),
proj AS (
  SELECT vec_id, list(CASE WHEN list_dot_product(vec, wvec) >= 0 THEN '1' ELSE '0' END
                      ORDER BY plane) AS sig
  FROM n CROSS JOIN pl GROUP BY vec_id),
banded AS (
  SELECT vec_id, unnest(range(0, {bands})) AS band,
         unnest([{band_cases}]) AS bkey
  FROM proj),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.bkey = b.bkey
   AND a.vec_id < b.vec_id)
SELECT id_a, id_b,
       (round((list_dot_product(x.vec, y.vec) / (x.nrm * y.nrm)) + 1.0e-9,6)+0.0e0) AS cos_sim
FROM cand JOIN n x ON x.vec_id = id_a JOIN n y ON y.vec_id = id_b
WHERE list_dot_product(x.vec, y.vec) / (x.nrm * y.nrm) >= {threshold:.9e}
"""


SEM_EPS = (0.2, 0.3, 0.4, 0.5)  # SemDeDup cosine thresholds (round-10 frontier)


def semdedup_eps_frontier(df: DataFrame, vec: str = "embedding") -> DataFrame:
    """SemDeDup aggressiveness frontier: removal volume at EVERY cosine
    epsilon from ONE hyperplane-LSH pair evaluation at the loosest
    epsilon. Removal uses the keep-first convention the practical
    SemDeDup implementations use (a vector is dropped iff it has a
    lower-id neighbor at cos >= eps) — the greedy approximation of
    one-per-cluster that needs no per-epsilon connected components.

    Cross-engine float discipline: the SQL lsh_pairs twin emits cos_sim
    rounded at 6dp, so the Spark side applies the SAME house rounding
    (round(x + 1e-9, 6)) before comparing against the eps literals —
    both engines then compare identical doubles. Epsilons with no pairs
    still emit a row (left join from the eps dim).

    Scale shape: the pair generator is the banded LSH self-join (no
    all-pairs); the pinned pair set is re-filtered once per epsilon.
    -> (eps_pct, n_pairs, n_removed, n_vectors, frac_removed)."""
    base = min(SEM_EPS)
    pairs = (
        lsh_pairs(df, threshold=base, vec=vec)
        .withColumn("cos6", F.round(F.col("cos_sim") + F.lit(1.0e-9), 6) + F.lit(0.0))
        .localCheckpoint(eager=False)
    )
    spark = df.sparkSession
    eps = spark.createDataFrame([(e,) for e in SEM_EPS], "eps double")
    flagged = pairs.crossJoin(F.broadcast(eps)).filter(F.col("cos6") >= F.col("eps"))
    per_eps = flagged.groupBy("eps").agg(F.count("*").alias("n_pairs"))
    removed = (
        flagged.select("eps", "id_b").distinct().groupBy("eps").agg(F.count("*").alias("n_removed"))
    )
    ntot = df.agg(F.count("*").alias("n_vectors"))
    return (
        eps.join(per_eps, "eps", "left")
        .join(removed, "eps", "left")
        .crossJoin(F.broadcast(ntot))
        .select(
            F.round(F.col("eps") * 100).cast("bigint").alias("eps_pct"),
            F.coalesce("n_pairs", F.lit(0)).cast("bigint").alias("n_pairs"),
            F.coalesce("n_removed", F.lit(0)).cast("bigint").alias("n_removed"),
            F.col("n_vectors").cast("bigint").alias("n_vectors"),
            (
                F.round(
                    F.coalesce("n_removed", F.lit(0)).cast("double") / F.col("n_vectors")
                    + F.lit(1e-9),
                    6,
                )
                + F.lit(0.0)
            ).alias("frac_removed"),
        )
    )


def semdedup_eps_frontier_sql() -> str:
    from . import expr as E

    base = min(SEM_EPS)
    eps_list = ", ".join(E.NUM(e) for e in SEM_EPS)
    return f"""
WITH pairs AS MATERIALIZED ({lsh_pairs_sql(threshold=base)}),
eps AS (SELECT unnest([{eps_list}]) AS eps),
flagged AS (
  SELECT e.eps, p.id_b FROM pairs p JOIN eps e ON p.cos_sim >= e.eps),
per_eps AS (SELECT eps, count(*) AS n_pairs FROM flagged GROUP BY eps),
removed AS (
  SELECT eps, count(*) AS n_removed
  FROM (SELECT DISTINCT eps, id_b FROM flagged) GROUP BY eps),
ntot AS (SELECT CAST(count(*) AS BIGINT) AS n_vectors FROM embeddings)
SELECT CAST(round(e.eps * 100) AS BIGINT) AS eps_pct,
       CAST(coalesce(p.n_pairs, 0) AS BIGINT) AS n_pairs,
       CAST(coalesce(r.n_removed, 0) AS BIGINT) AS n_removed,
       t.n_vectors,
       (round(CAST(coalesce(r.n_removed, 0) AS DOUBLE) / t.n_vectors + 1.0e-9, 6)
        + 0.0e0) AS frac_removed
FROM eps e LEFT JOIN per_eps p USING (eps) LEFT JOIN removed r USING (eps)
CROSS JOIN ntot t
"""


# --- distributed PCA (variance structure of the embedding space) -----------
def _gram_sufficient_stats(df: DataFrame, vec: str = "embedding"):
    """Distributed sufficient statistics for any covariance-based kernel:
    (n, column-sum vector s, full symmetric Gram matrix X'X) on the driver.

    Spark-first shape for 100 TB: each partition reduces its rows to ONE
    record (count, column sums, upper-triangular Gram X'X — O(dim^2)
    floats) via an Arrow-batched mapInPandas; the records are exploded to
    (slot, value) and summed by slot (tiny shuffle: partitions x dim^2/2
    rows regardless of row count). Shared by pca_variance / top_eigen /
    pca_power / the ABTT front half, so none of them builds the covariance
    through an n·dim^2 exploded self-join, which is compute-quadratic in
    dim per vector."""
    import numpy as np
    import pandas as pd

    dim = len(df.select(vec).first()[0])
    ut = [(i, j) for i in range(dim) for j in range(i, dim)]

    def partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf[vec].to_numpy()).astype(np.float64)
            g = X.T @ X
            yield pd.DataFrame(
                {
                    "n": [float(len(X))],
                    "s": [X.sum(axis=0).tolist()],
                    "g": [[g[i, j] for i, j in ut]],
                }
            )

    part = df.select(vec).mapInPandas(
        partials, schema="n double, s array<double>, g array<double>"
    ).localCheckpoint()  # materialize the tiny partials once; 3 reads below
    # elementwise reduce: explode each partial to (slot, value), sum by slot
    ns = part.agg(F.sum("n").alias("n")).collect()[0].n
    ssum = (
        part.select(F.posexplode("s").alias("pos", "v"))
        .groupBy("pos").agg(F.sum("v").alias("v")).collect()
    )
    gsum = (
        part.select(F.posexplode("g").alias("pos", "v"))
        .groupBy("pos").agg(F.sum("v").alias("v")).collect()
    )
    s = np.zeros(dim)
    for r in ssum:
        s[r.pos] = r.v
    G = np.zeros((dim, dim))
    for r in gsum:
        i, j = ut[r.pos]
        G[i, j] = G[j, i] = r.v
    return int(ns), s, G


def _cov_ddof1(df: DataFrame, vec: str = "embedding"):
    """(n, mu, C) with the sample (ddof=1) covariance
    C = (X'X - n·mu·mu') / (n-1) — the convention top_eigen / pca_power /
    ABTT and their DuckDB oracles share. Bounded dim^2 driver state."""
    import numpy as np

    n, s, G = _gram_sufficient_stats(df, vec)
    mu = s / n
    C = (G - n * np.outer(mu, mu)) / (n - 1)
    return n, mu, C


def pca_variance(df: DataFrame, vec: str = "embedding", k: int = 8) -> DataFrame:
    """Top-k PCA eigenvalues / variance shares of the embedding cloud.

    Scale shape: see _gram_sufficient_stats — one Gram-partial mapInPandas
    pass, tiny slot-sum shuffle, O(1) driver eigensolve (64x64 eigh on
    64-dim embeddings).

    Rows-only query (eigendecomposition is not SQL-expressible); numpy
    parity is asserted in tests/test_paths.py.
    """
    import numpy as np

    spark = df.sparkSession
    ns, s, G = _gram_sufficient_stats(df, vec)
    dim = len(s)
    # covariance = E[xx'] - mean mean'
    mu = s / ns
    C = G / ns - np.outer(mu, mu)
    evals = np.linalg.eigvalsh(C)[::-1]
    total = float(evals.sum())
    rows = []
    cum = 0.0
    for c in range(k):
        lam = float(evals[c])
        cum += lam
        rows.append((c, round(lam, 6), round(lam / total, 6), round(cum / total, 6)))
    return spark.createDataFrame(
        rows, "component bigint, eigenvalue double, var_share double, cum_share double"
    )


# --- product quantization (PQ codes, Jégou et al. 2011) --------------------
PQ_SUB, PQ_CENT = 4, 16


def _pq_subvectors(df: DataFrame, n_sub: int, vec: str = "embedding") -> DataFrame:
    """Split each vector into n_sub contiguous double subvectors;
    -> (vec_id, s, subvec)."""
    return df.select(
        "vec_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {n_sub - 1}), "
                f"s -> struct(s AS s, transform(slice({vec}, s * int(size({vec}) / {n_sub}) + 1, "
                f"int(size({vec}) / {n_sub})), x -> CAST(x AS DOUBLE)) AS subvec))"
            )
        ).alias("p"),
    ).select("vec_id", "p.s", "p.subvec")


def pq_train_assign(
    df: DataFrame,
    n_sub: int = PQ_SUB,
    n_cent: int = PQ_CENT,
    refine_iters: int = 2,
    vec: str = "embedding",
):
    """Product quantization: split each d-dim vector into n_sub subvectors,
    k-means a tiny codebook (n_cent centroids) per subspace, store each
    vector as n_sub small codes — d floats → n_sub bytes (64× compression
    at d=64/float32), the memory layout ANN indexes use at billion scale
    (Jégou, Douze, Schmid 2011).

    Training shape per Lloyd iteration: one broadcast-codebook assign pass
    (codebook = n_sub·n_cent rows, always broadcast) + one posexplode →
    per-(subspace, code, dim) partial-agged mean to recompute centroids —
    both linear passes, no pairwise blowup. Deterministic seeding (first
    n_cent vectors' subvectors). Code assignment ranks on a 9dp-rounded
    distance in BOTH engines (round-before-rank), so last-ulp differences
    in the refined float-mean centroids cannot flip a near-tie code in
    one engine only — codes agree across engines up to genuine 1e-9
    Voronoi-boundary coincidences.

    Returns (codes, codebook): codes = (vec_id, s, code, sub_sqerr);
    codebook = (s, code, cvec)."""
    sub = _pq_subvectors(df, n_sub, vec).localCheckpoint(eager=False)
    codebook = sub.filter(F.col("vec_id") < n_cent).select(
        "s", F.col("vec_id").cast("int").alias("code"), F.col("subvec").alias("cvec")
    )

    def assign(cb):
        # Rank on a 9dp-rounded distance (round-before-rank idiom): the
        # refined centroids are float means whose last-ulp differs between
        # engines, and an unrounded near-tie at a Voronoi boundary would
        # flip the code in one engine only (ADVICE r07).
        #
        # The codebook is bounded (n_sub·n_cent rows), so it is folded into
        # ONE row holding an s-indexed array of (code, cvec) candidate
        # arrays, broadcast onto the subvector table (single-row BNLJ — no
        # shuffle), and the nearest code is a per-row array fold instead of
        # the old join(broadcast) + per-(vec_id, s) row_number window —
        # removes the n_cent-fold candidate blowup through an exchange+sort
        # per Lloyd pass (opt guide §2.4) while staying fully lazy (no
        # driver collect, no literal blowup in the plan; both alternatives
        # measured slower — plan/build time dominated). Distance expression
        # is unchanged ((a-b)² zip_with/aggregate, +1e-12, round 9);
        # array_min on (d2r, code) == the old orderBy(d2r ASC, code ASC)
        # rn=1, so codes and sub_sqerr are bit-identical to the join form.
        cb_arr = (
            cb.groupBy("s")
            .agg(F.array_sort(F.collect_list(F.struct("code", "cvec"))).alias("arr"))
            .agg(F.array_sort(F.collect_list(F.struct("s", "arr"))).alias("sa"))
            .select(F.col("sa.arr").alias("_cbs"))
        )
        # one F.expr (single SQL parse) instead of nested Column-API
        # lambdas — the py4j tree construction cost dominated at bench
        # scale; inner transform computes d2 once, outer adds the rounded
        # rank key (lambda-var field access is free)
        best = F.expr(
            "array_min(transform("
            "transform(element_at(_cbs, s + 1), c -> struct("
            "aggregate(zip_with(subvec, c.cvec, (a, b) -> (a - b) * (a - b)), "
            "0.0e0, (acc, x) -> acc + x) AS d2, c.code AS code)), "
            "x -> struct(round(x.d2 + 1.0e-12, 9) AS d2r, x.code AS code, "
            "x.d2 AS d2)))"
        )
        # explode(array(best)) pins the argmin struct behind a Generate so
        # the interpreted expression tree is evaluated ONCE per row —
        # referencing two fields of `best` directly would inline (and
        # evaluate) the whole tree twice (CollapseProject has no CSE for
        # the codegen-fallback HOF chain)
        return (
            sub.crossJoin(F.broadcast(cb_arr))
            .select("vec_id", "s", "subvec", F.explode(F.array(best)).alias("_b"))
            .select(
                "vec_id",
                "s",
                F.col("_b.code").alias("code"),
                "subvec",
                F.col("_b.d2").alias("sub_sqerr"),
            )
        )

    assigned = assign(codebook)
    for _ in range(refine_iters):
        codebook = (
            assigned.select("s", "code", F.posexplode("subvec").alias("pos", "x"))
            .groupBy("s", "code", "pos")
            .agg(F.avg("x").alias("cx"))
            .groupBy("s", "code")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "cx"))).alias("pc"))
            .select("s", "code", F.col("pc.cx").alias("cvec"))
        )
        assigned = assign(codebook)
    return assigned.drop("subvec"), codebook


def pq_summary(df: DataFrame, vec: str = "embedding") -> DataFrame:
    """Per-vector PQ codes + reconstruction error — the quantized index's
    write side (columnar codes table) plus its quality metric."""
    codes, _ = pq_train_assign(df, vec=vec)
    return (
        codes.groupBy("vec_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("s", "code"))).alias("sc"),
            F.sum("sub_sqerr").alias("recon_sqerr"),
        )
        .select(
            "vec_id",
            F.col("sc.code").alias("codes"),
            F.sqrt(F.col("recon_sqerr")).alias("recon_err"),
        )
    )


PQ_RECALL_Q, PQ_RECALL_K = 16, 8


def pq_recall(
    df: DataFrame,
    n_queries: int = PQ_RECALL_Q,
    k: int = PQ_RECALL_K,
    n_sub: int = PQ_SUB,
    n_cent: int = PQ_CENT,
    refine_iters: int = 2,
    vec: str = "embedding",
) -> DataFrame:
    """Recall@k of PQ asymmetric-distance search (ADC; Jégou, Douze,
    Schmid 2011 §IV) against exact L2 truth — the quantization axis of
    the ANN eval triptych (ann_ivf_recall = probe axis,
    embed_trunc_recall = dimension axis). Each query keeps its FULL
    vector; per (query, subspace, code) a lookup-table entry
    ||q_s - c_{s,code}||^2 is precomputed, and a corpus vector's
    approximate distance is the sum of n_sub LUT hits on its stored
    codes — the scan never touches raw corpus floats, which is the whole
    point of PQ at billion scale (codes are n_sub bytes/vector; the LUT
    is n_queries x n_sub x n_cent, always broadcast).

    Determinism: LUT entries are rounded at 9dp and summed distances at
    6dp BEFORE ranking, in both engines (the repo's round-before-rank
    discipline), with vec_id as the tiebreak.
    -> (query_id, hits, recall_at_k)."""
    codes, codebook = pq_train_assign(df, n_sub, n_cent, refine_iters, vec)
    qsub = _pq_subvectors(df.filter(F.col("vec_id") < n_queries), n_sub, vec).select(
        F.col("vec_id").alias("query_id"), "s", F.col("subvec").alias("qsub")
    )
    lut_d2 = F.expr(
        "aggregate(zip_with(qsub, cvec, (a, b) -> (a - b) * (a - b)), "
        "0.0e0, (acc, x) -> acc + x)"
    )
    lut = qsub.join(F.broadcast(codebook), "s").select(
        "query_id", "s", "code",
        (F.round(lut_d2 + F.lit(1e-12), 9) + F.lit(0.0)).alias("ld2"),
    )
    adc = (
        codes.join(F.broadcast(lut), ["s", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("ld2").alias("d2"))
        .withColumn("d6", F.round(F.col("d2") + F.lit(1e-9), 6) + F.lit(0.0))
    )
    wq = Window.partitionBy("query_id").orderBy(F.asc("d6"), F.asc("vec_id"))
    approx = (
        adc.withColumn("rank", F.row_number().over(wq))
        .filter(F.col("rank") <= k)
        .select(F.col("query_id").alias("a_qid"), F.col("vec_id").alias("a_nid"))
    )
    v = df.select("vec_id", _to_double(vec).alias("_vec"))
    q = v.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("_vec").alias("qvec")
    )
    exact_d2 = F.expr(
        "aggregate(zip_with(qvec, _vec, (a, b) -> (a - b) * (a - b)), "
        "0.0e0, (acc, x) -> acc + x)"
    )
    truth = (
        v.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .withColumn("d6", F.round(exact_d2 + F.lit(1e-9), 6) + F.lit(0.0))
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.asc("d6"), F.asc("vec_id"))
            ),
        )
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    hits = F.count(F.col("a_nid")).cast("bigint")
    return (
        truth.join(
            approx,
            (F.col("query_id") == F.col("a_qid"))
            & (F.col("neighbor_id") == F.col("a_nid")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            hits.alias("hits"),
            (F.round(hits / F.lit(float(k)) + F.lit(1e-9), 6) + F.lit(0.0)).alias(
                "recall_at_k"
            ),
        )
        .orderBy("query_id")
    )


# --- IVF-PQ (IVFADC): coarse cells + PQ on residuals ------------------------
IVFPQ_CELLS, IVFPQ_PROBE = 8, 3


def _ivfpq_adc(
    df: DataFrame,
    n_queries: int,
    n_cells: int,
    nprobe: int,
    n_sub: int,
    n_cent: int,
    refine_iters: int,
    vec: str,
):
    """IVFADC candidate generation shared by ivfpq_recall and the re-rank
    frontier: coarse cells (certified ivf_assign, assignment pinned once),
    PQ codebooks trained on residuals, per-(query, probed cell) LUT, ADC
    join keyed on (cell_id, s, code). -> (adc, pinned): adc = (query_id,
    vec_id, d6) — the 6dp-rounded ADC distance for every candidate in a
    probed cell — and pinned = the localCheckpointed assignment
    (vec_id, _vec, norm, cell_id), which callers reuse for exact re-rank
    and truth sets instead of re-scanning the corpus (recompute-census
    discipline: the pin already holds the double-cast vectors)."""
    assigned, cents = ivf_assign(df, n_cells, vec)
    # pin the final assignment: residual training, the code table, and the
    # ADC scan all read this once-materialized table instead of replaying
    # the Lloyd lineage per branch (recompute-census discipline)
    assigned = assigned.localCheckpoint(eager=False)
    res = (
        assigned.join(F.broadcast(cents.select("cell_id", "svec")), "cell_id")
        .select(
            "vec_id",
            "cell_id",
            F.zip_with("_vec", "svec", lambda a, b: a - b).alias("rvec"),
        )
    )
    codes, codebook = pq_train_assign(res, n_sub, n_cent, refine_iters, vec="rvec")
    cellmap = assigned.select("vec_id", "cell_id")
    codes = codes.join(cellmap, "vec_id")

    # query probes: rank cells by 9dp-rounded cosine (ivf_topk idiom)
    q = assigned.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("_vec").alias("qvec"),
        F.col("norm").alias("qnorm"),
    )
    probes = (
        q.crossJoin(F.broadcast(cents.select(F.col("cell_id").alias("probe_cell"), "svec", "snorm")))
        .withColumn(
            "cs",
            F.round(cosine("qvec", "svec") / (F.col("qnorm") * F.col("snorm")) + F.lit(1e-12), 9),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.desc("cs"), F.asc("probe_cell"))
            ),
        )
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "qvec", F.col("probe_cell").alias("cell_id"), "svec")
    )
    # per-(query, probed cell) residual, split into subvectors
    d_sub_expr = (
        f"transform(sequence(0, {n_sub - 1}), "
        f"s -> struct(s AS s, slice(qres, s * int(size(qres) / {n_sub}) + 1, "
        f"int(size(qres) / {n_sub})) AS qsub))"
    )
    qsub = (
        probes.withColumn("qres", F.zip_with("qvec", "svec", lambda a, b: a - b))
        .select("query_id", "cell_id", F.explode(F.expr(d_sub_expr)).alias("p"))
        .select("query_id", "cell_id", "p.s", "p.qsub")
    )
    lut_d2 = F.expr(
        "aggregate(zip_with(qsub, cvec, (a, b) -> (a - b) * (a - b)), "
        "0.0e0, (acc, x) -> acc + x)"
    )
    lut = qsub.join(F.broadcast(codebook), "s").select(
        "query_id", "cell_id", "s", "code",
        (F.round(lut_d2 + F.lit(1e-12), 9) + F.lit(0.0)).alias("ld2"),
    )
    adc = (
        codes.join(F.broadcast(lut), ["cell_id", "s", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("ld2").alias("d2"))
        .withColumn("d6", F.round(F.col("d2") + F.lit(1e-9), 6) + F.lit(0.0))
    )
    return adc, assigned


def _l2_truth_from_v(v: DataFrame, n_queries: int, k: int) -> DataFrame:
    """Exact L2 top-k truth set over a (vec_id, _vec) frame (6dp
    round-before-rank, vec_id tiebreak — the pq_recall discipline).
    -> (query_id, neighbor_id)."""
    qv = v.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("_vec").alias("qvec")
    )
    exact_d2 = F.expr(
        "aggregate(zip_with(qvec, _vec, (a, b) -> (a - b) * (a - b)), "
        "0.0e0, (acc, x) -> acc + x)"
    )
    return (
        v.join(F.broadcast(qv), F.col("vec_id") != F.col("query_id"))
        .withColumn("d6", F.round(exact_d2 + F.lit(1e-9), 6) + F.lit(0.0))
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.asc("d6"), F.asc("vec_id"))
            ),
        )
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )


def ivfpq_recall(
    df: DataFrame,
    n_queries: int = PQ_RECALL_Q,
    k: int = PQ_RECALL_K,
    n_cells: int = IVFPQ_CELLS,
    nprobe: int = IVFPQ_PROBE,
    n_sub: int = PQ_SUB,
    n_cent: int = PQ_CENT,
    refine_iters: int = 2,
    vec: str = "embedding",
) -> DataFrame:
    """Recall@k of the combined IVF-PQ index (IVFADC; Jégou, Douze, Schmid
    2011 §V) against exact L2 truth — the composition that actually runs at
    billion scale: the coarse quantizer routes each vector to a cell, PQ
    codebooks are trained on the RESIDUAL x − c_cell (residuals are far
    better centered than raw vectors, so the same code budget buys more
    precision), and a query scans only its nprobe probed cells using a
    per-(query, cell) lookup table over the residual codebooks. Completes
    the eval family: ann_ivf_recall isolates the probe axis, ann_pq_recall
    the quantization axis — this measures them composed, which is what you
    actually tune (nprobe × n_cent) before shipping an index.

    Scale shape: the coarse quantizer is the certified ivf_assign (cosine
    cells, driver-pinned Lloyd centroids); the final assignment is pinned
    once (localCheckpoint) and every downstream branch — residual PQ
    training, the code table, the ADC scan — reads the pin, not the corpus.
    The LUT is n_queries·nprobe·n_sub·n_cent rows (bounded, broadcast);
    the ADC join keys on (cell_id, s, code), so candidates outside probed
    cells are never materialized. At 100 TB the codes table is bucketed by
    cell_id and the scan touches nprobe/n_cells of it; no raw corpus float
    is read at query time.

    Determinism: cell/probe/code ranks round at 9dp before ranking, ADC
    sums round at 6dp before the final rank, vec_id is the tiebreak — the
    repo's round-before-rank discipline in BOTH engines.
    -> (query_id, hits, recall_at_k)."""
    adc, pinned = _ivfpq_adc(df, n_queries, n_cells, nprobe, n_sub, n_cent, refine_iters, vec)
    wq = Window.partitionBy("query_id").orderBy(F.asc("d6"), F.asc("vec_id"))
    approx = (
        adc.withColumn("rank", F.row_number().over(wq))
        .filter(F.col("rank") <= k)
        .select(F.col("query_id").alias("a_qid"), F.col("vec_id").alias("a_nid"))
    )
    truth = _l2_truth_from_v(pinned.select("vec_id", "_vec"), n_queries, k)
    hits = F.count(F.col("a_nid")).cast("bigint")
    return (
        truth.join(
            approx,
            (F.col("query_id") == F.col("a_qid"))
            & (F.col("neighbor_id") == F.col("a_nid")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            hits.alias("hits"),
            (F.round(hits / F.lit(float(k)) + F.lit(1e-9), 6) + F.lit(0.0)).alias(
                "recall_at_k"
            ),
        )
        .orderBy("query_id")
    )


RERANK_BUDGETS = (8, 16, 32, 64)


def rerank_frontier(
    df: DataFrame,
    n_queries: int = PQ_RECALL_Q,
    k: int = PQ_RECALL_K,
    n_cells: int = IVFPQ_CELLS,
    nprobe: int = IVFPQ_PROBE,
    n_sub: int = PQ_SUB,
    n_cent: int = PQ_CENT,
    refine_iters: int = 2,
    budgets: tuple = RERANK_BUDGETS,
    vec: str = "embedding",
) -> DataFrame:
    """The two-stage retrieval tuning curve: recall@k after EXACT re-rank
    of the top-m ADC candidates, for every re-rank budget m — the
    production IVF-PQ deployment shape (scan codes, read full vectors for
    only m candidates, re-rank exactly) and the table that sizes m.
    ann_ivfpq_recall is the m=k point; this shows how fast the ADC
    quantization error washes out as the re-rank budget grows.

    One ADC evaluation serves every budget: each candidate with ADC rank
    r explodes to the budgets m >= r (bounded x |budgets| blowup of a
    bounded candidate set), full vectors join ONLY for exploded re-rank
    rows (the cost the avg_exact_evals column reports), and the re-rank
    uses the same 6dp-rounded exact L2 as the truth set, so per-query
    hits are provably nondecreasing in m (displacement argument: an
    evicting candidate outscores the evicted one under the truth metric,
    hence is itself true top-k). -> (rerank_m, avg_exact_evals,
    mean_recall_at_k) ordered by rerank_m."""
    adc, pinned = _ivfpq_adc(df, n_queries, n_cells, nprobe, n_sub, n_cent, refine_iters, vec)
    wa = Window.partitionBy("query_id").orderBy(F.asc("d6"), F.asc("vec_id"))
    ranked = adc.withColumn("adc_rank", F.row_number().over(wa))
    cand = ranked.withColumn(
        "m", F.explode(F.array(*[F.lit(int(m)) for m in budgets]))
    ).filter(F.col("m") >= F.col("adc_rank"))

    # full vectors come from the IVFADC pin, not a fresh corpus scan
    v = pinned.select("vec_id", "_vec")
    qv = v.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("_vec").alias("qvec")
    )
    exact_d2 = F.expr(
        "aggregate(zip_with(qvec, _vec, (a, b) -> (a - b) * (a - b)), "
        "0.0e0, (acc, x) -> acc + x)"
    )
    rr = (
        cand.select("query_id", "vec_id", "m")
        .join(v, "vec_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn("e6", F.round(exact_d2 + F.lit(1e-9), 6) + F.lit(0.0))
    )
    wr = Window.partitionBy("query_id", "m").orderBy(F.asc("e6"), F.asc("vec_id"))
    topk = (
        rr.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= k)
        .select(
            F.col("query_id").alias("t_qid"),
            F.col("m").alias("t_m"),
            F.col("vec_id").alias("a_nid"),
        )
    )
    truth = _l2_truth_from_v(v, n_queries, k)
    grid = truth.crossJoin(
        F.broadcast(
            truth.sparkSession.createDataFrame(
                [(int(m),) for m in budgets], "m int"
            )
        )
    )
    hits = (
        grid.join(
            topk,
            (F.col("query_id") == F.col("t_qid"))
            & (F.col("neighbor_id") == F.col("a_nid"))
            & (F.col("m") == F.col("t_m")),
            "left",
        )
        .groupBy("m")
        .agg(F.count("a_nid").alias("total_hits"))
    )
    cost = cand.groupBy("m").agg(F.count("*").alias("n_exact"))
    return (
        hits.join(cost, "m")
        .select(
            F.col("m").alias("rerank_m"),
            (
                F.round(F.col("n_exact") / F.lit(float(n_queries)) + F.lit(1e-9), 6)
                + F.lit(0.0)
            ).alias("avg_exact_evals"),
            (
                F.round(
                    F.col("total_hits") / F.lit(float(k * n_queries)) + F.lit(1e-9), 6
                )
                + F.lit(0.0)
            ).alias("mean_recall_at_k"),
        )
        .orderBy("rerank_m")
    )


# --- classic L2 k-means (deterministic Lloyd, oracle-replayable) -----------
KMEANS_K, KMEANS_ITERS = 8, 2


def _argmin_l2_lazy(cc: DataFrame, id_col: str, vec_col: str):
    """Fold a bounded centroid table into one row holding an array of
    (cid, cvec) structs (order fixed by array_sort; cid leads and is
    unique) and return (cents_one_row_df, best_col): callers
    crossJoin(broadcast(cents)) — a single-row BNLJ, no corpus shuffle —
    and `best` is the argmin-by-L2 struct over `_vec`: struct(d2r, cid,
    d2) minimized lexicographically, i.e. nearest centroid by 9dp-rounded
    squared distance, ties to the lowest id, unrounded d2 carried along.
    The distance expression matches the old crossJoin+window form term
    for term, so values are bit-identical — only the exchange+sort per
    assign pass disappears (opt guide §2.4). Fully lazy: no driver
    collect, no literal blowup in the plan (both measured slower —
    plan/build time dominated at bench scale)."""
    cents = cc.agg(
        F.array_sort(
            F.collect_list(
                F.struct(F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"))
            )
        ).alias("_cents")
    )
    # one F.expr (single SQL parse) instead of nested Column-API lambdas —
    # the py4j tree construction cost dominated at bench scale
    best = F.expr(
        "array_min(transform("
        "transform(_cents, c -> struct("
        "aggregate(zip_with(_vec, c.cvec, (a, b) -> (a - b) * (a - b)), "
        "0.0e0, (acc, x) -> acc + x) AS d2, c.cid AS cid)), "
        "x -> struct(round(x.d2 + 1.0e-12, 9) AS d2r, x.cid AS cid, "
        "x.d2 AS d2)))"
    )
    return cents, best


def _lloyd_centroids(v: DataFrame, k: int, iters: int, assign) -> DataFrame:
    """Run `iters` Lloyd rounds from the first k vectors, each round's
    centroid table pinned to the driver by _centroid_mean."""
    cents = v.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cluster_id"), F.col("_vec").alias("cvec")
    )
    for _ in range(iters):
        cents = _centroid_mean(assign(cents), "cluster_id", "cvec")
    return cents


def _kmeans_fit(df: DataFrame, k: int, iters: int, vec: str) -> DataFrame:
    """Classic Lloyd k-means under L2 with DETERMINISTIC init (centroids =
    the first k vectors by vec_id): `iters` assign+recompute rounds, then
    one final assignment. Every stage is the broadcast-centroids pattern
    (k rows broadcast; the corpus streams), so the whole fit is `iters`+1
    scans with no quadratic work — the 100 TB path. The fixed round count
    keeps the computation oracle-replayable as unrolled CTEs (same
    convention as PageRank/k-core); convergence at this data size is
    asserted in tests, not assumed.
    → (vec_id, _vec, cluster_id, d2) with d2 the squared distance."""
    v = df.select("vec_id", F.col(vec).cast("array<double>").alias("_vec"))

    def assign(cc: DataFrame) -> DataFrame:
        # round-before-rank (9dp): float-mean centroids differ in the last
        # ulp between engines, and an unrounded near-tie would flip the
        # assignment in one engine only; d2 itself stays unrounded for the
        # inertia sum.
        # Bounded centroid table (k rows) → single-row broadcast array +
        # per-row argmin fold (no k·N-row exchange+sort; opt guide §2.4).
        # explode(array(best)): evaluate the argmin tree once per row (two
        # direct field references would inline it twice — no CSE across
        # the codegen-fallback HOF chain).
        cents, best = _argmin_l2_lazy(cc, "cluster_id", "cvec")
        return (
            v.crossJoin(F.broadcast(cents))
            .select("vec_id", "_vec", F.explode(F.array(best)).alias("_b"))
            .select(
                "vec_id",
                "_vec",
                F.col("_b.cid").cast("bigint").alias("cluster_id"),
                F.col("_b.d2").alias("d2"),
            )
        )

    return assign(_lloyd_centroids(v, k, iters, assign))


def kmeans_l2(
    df: DataFrame, k: int = KMEANS_K, iters: int = KMEANS_ITERS, vec: str = "embedding"
) -> DataFrame:
    """Per-cluster size and inertia of the deterministic Lloyd fit
    (_kmeans_fit).
    → (cluster_id, n, inertia) with inertia = sum of squared distances.
    """
    return _kmeans_fit(df, k, iters, vec).groupBy("cluster_id").agg(
        F.count("*").alias("n"),
        F.round(F.sum("d2") + F.lit(1.0e-9), 4).alias("inertia"),
    )


def kmeans_assignments(
    df: DataFrame, k: int = KMEANS_K, iters: int = KMEANS_ITERS, vec: str = "embedding"
) -> DataFrame:
    """Final (vec_id, cluster_id) assignment of the deterministic Lloyd fit
    (_kmeans_fit), exposing the per-vector labels for downstream evals
    (cluster purity / NMI)."""
    return _kmeans_fit(df, k, iters, vec).select("vec_id", "cluster_id")


def cluster_purity(emb: DataFrame, k: int = KMEANS_K, iters: int = KMEANS_ITERS) -> DataFrame:
    """External cluster validation of the Lloyd fit against the label
    column: PURITY (majority-label mass) and NMI (normalized mutual
    information, sqrt normalization) from the exact (cluster, label)
    contingency — the eval that says whether unsupervised structure
    recovers the supervised classes. Contingency counts are integers,
    so everything downstream is a sum over <=k*n_labels cells."""
    asg = kmeans_assignments(emb, k, iters)
    # localCheckpoint: five downstream branches (n / nc / nl / maxper /
    # cells) read the contingency — without pinning it, each branch
    # re-runs the full assignment scan. The table is <= k * n_labels
    # integer rows: bounded state, trivially safe to materialize.
    cont = (
        asg.join(emb.select("vec_id", "label"), "vec_id")
        .groupBy("cluster_id", "label")
        .agg(F.count("*").alias("c"))
        .localCheckpoint()
    )
    n = cont.agg(F.sum("c").alias("n"))
    nc = cont.groupBy("cluster_id").agg(F.sum("c").alias("ncl"))
    nl = cont.groupBy("label").agg(F.sum("c").alias("nla"))
    maxper = cont.groupBy("cluster_id").agg(F.max("c").alias("mx"))
    cells = (
        cont.join(F.broadcast(nc), "cluster_id")
        .join(F.broadcast(nl), "label")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "mi_term",
            (F.col("c").cast("double") / F.col("n"))
            * F.log(
                F.col("c").cast("double") * F.col("n")
                / (F.col("ncl").cast("double") * F.col("nla"))
            ),
        )
    )
    mi = cells.agg(F.sum("mi_term").alias("mi")).crossJoin(F.broadcast(n))
    hc = (
        nc.crossJoin(F.broadcast(n))
        .agg(
            F.sum(
                -(F.col("ncl").cast("double") / F.col("n"))
                * F.log(F.col("ncl").cast("double") / F.col("n"))
            ).alias("h_cluster")
        )
    )
    hl = (
        nl.crossJoin(F.broadcast(n))
        .agg(
            F.sum(
                -(F.col("nla").cast("double") / F.col("n"))
                * F.log(F.col("nla").cast("double") / F.col("n"))
            ).alias("h_label")
        )
    )
    pur = maxper.agg(F.sum("mx").alias("mxs")).crossJoin(F.broadcast(n)).select(
        (F.col("mxs").cast("double") / F.col("n")).alias("purity")
    )
    out = (
        mi.crossJoin(F.broadcast(hc))
        .crossJoin(F.broadcast(hl))
        .crossJoin(F.broadcast(pur))
        .select(
            F.col("n").cast("bigint").alias("n"),
            "purity",
            (F.col("mi") / F.sqrt(F.col("h_cluster") * F.col("h_label"))).alias("nmi"),
            "h_cluster",
            "h_label",
        )
    )
    from .queries import round6

    return round6(out, "purity", "nmi", "h_cluster", "h_label")


def _kmeans_body_parts(k: int, iters: int, dim: int) -> list:
    """Shared CTE chain of the unrolled Lloyd fit, ending at fin(vec_id,
    cluster_id, d2) — reused by kmeans_l2_sql and cluster_purity_sql."""
    d2 = (
        "list_reduce(list_prepend(0.0e0, list_transform(range(1, {dim} + 1), "
        "i -> (v.vec[i] - c.cvec[i]) * (v.vec[i] - c.cvec[i]))), (acc, x) -> acc + x)"
    ).format(dim=dim)
    parts = [
        "v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec FROM embeddings)",
        f"c0 AS (SELECT vec_id AS cluster_id, vec AS cvec FROM v WHERE vec_id < {k})",
    ]
    prev = "c0"
    for it in range(iters):
        parts.append(
            f"""a{it} AS (
  SELECT vec_id, vec, cluster_id, d2 FROM (
    SELECT v.vec_id, v.vec, c.cluster_id, {d2} AS d2,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY round({d2} + 1.0e-12, 9) ASC, c.cluster_id ASC) AS rn
    FROM v CROSS JOIN {prev} c) WHERE rn = 1)"""
        )
        parts.append(
            f"""m{it} AS (
  SELECT cluster_id, i, avg(vec[i]) AS m
  FROM a{it} CROSS JOIN (SELECT unnest(range(1, {dim} + 1)) AS i) g
  GROUP BY cluster_id, i)"""
        )
        parts.append(
            f"c{it + 1} AS (SELECT cluster_id, list(m ORDER BY i) AS cvec FROM m{it} GROUP BY cluster_id)"
        )
        prev = f"c{it + 1}"
    parts.append(
        f"""fin AS (
  SELECT vec_id, cluster_id, d2 FROM (
    SELECT v.vec_id, c.cluster_id, {d2} AS d2,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY round({d2} + 1.0e-12, 9) ASC, c.cluster_id ASC) AS rn
    FROM v CROSS JOIN {prev} c) WHERE rn = 1)"""
    )
    return parts


def kmeans_l2_sql(k: int = KMEANS_K, iters: int = KMEANS_ITERS, dim: int = EMB_DIM) -> str:
    """DuckDB oracle twin: the same Lloyd rounds unrolled as chained CTEs.
    dist2 uses a SEQUENTIAL list_reduce fold so the summation order matches
    Spark's aggregate() exactly."""
    body = ",\n".join(_kmeans_body_parts(k, iters, dim))
    return f"""
WITH {body}
SELECT cluster_id, count(*) AS n,
       (round((sum(d2)) + 1.0e-9,4)+0.0e0) AS inertia
FROM fin GROUP BY cluster_id
"""


def cluster_purity_sql(k: int = KMEANS_K, iters: int = KMEANS_ITERS, dim: int = EMB_DIM) -> str:
    body = ",\n".join(_kmeans_body_parts(k, iters, dim))
    return f"""
WITH {body},
cont AS (
  SELECT fin.cluster_id, e.label, count(*) AS c
  FROM fin JOIN embeddings e ON e.vec_id = fin.vec_id
  GROUP BY fin.cluster_id, e.label),
nt AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cont),
nc AS (SELECT cluster_id, sum(c) AS ncl FROM cont GROUP BY cluster_id),
nl AS (SELECT label, sum(c) AS nla FROM cont GROUP BY label),
mi AS (
  SELECT sum((CAST(c AS DOUBLE) / nt.n)
             * ln(CAST(c AS DOUBLE) * nt.n
                  / (CAST(nc.ncl AS DOUBLE) * nl.nla))) AS mi
  FROM cont JOIN nc USING (cluster_id) JOIN nl USING (label) CROSS JOIN nt),
hc AS (
  SELECT sum(-(CAST(ncl AS DOUBLE) / nt.n) * ln(CAST(ncl AS DOUBLE) / nt.n))
           AS h_cluster
  FROM nc CROSS JOIN nt),
hl AS (
  SELECT sum(-(CAST(nla AS DOUBLE) / nt.n) * ln(CAST(nla AS DOUBLE) / nt.n))
           AS h_label
  FROM nl CROSS JOIN nt),
pur AS (
  SELECT CAST(sum(mx) AS DOUBLE) / nt.n AS purity
  FROM (SELECT cluster_id, max(c) AS mx FROM cont GROUP BY cluster_id)
  CROSS JOIN nt GROUP BY nt.n)
SELECT nt.n,
       (round(pur.purity + 1.0e-9, 6) + 0.0e0) AS purity,
       (round(mi.mi / sqrt(hc.h_cluster * hl.h_label) + 1.0e-9, 6) + 0.0e0) AS nmi,
       (round(hc.h_cluster + 1.0e-9, 6) + 0.0e0) AS h_cluster,
       (round(hl.h_label + 1.0e-9, 6) + 0.0e0) AS h_label
FROM nt, mi, hc, hl, pur
"""


def _ivf_chain_sql(n_cells: int = 8, dim: int = EMB_DIM) -> str:
    """Shared IVF front (v → c0 seeds → a0 assign → m0/c1 Lloyd refine →
    a1 final assign) used by ivf_topk_sql and ivf_cell_profile_sql. The
    text is byte-identical to the pre-factoring ivf_topk_sql body, so the
    certified ann_ivf / ann_ivf_recall oracle strings are unchanged."""
    cs = "round(list_dot_product(v.vec, c.svec) / (v.norm * c.snorm) + 1.0e-12, 9)"
    return f"""v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec,
         sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                               list_transform(embedding, x -> CAST(x AS DOUBLE)))) AS norm
  FROM embeddings),
c0 AS (SELECT vec_id AS cell_id, vec AS svec, norm AS snorm FROM v WHERE vec_id < {n_cells}),
a0 AS (
  SELECT vec_id, vec, norm, cell_id FROM (
    SELECT v.vec_id, v.vec, v.norm, c.cell_id,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY {cs} DESC, c.cell_id ASC) AS rn
    FROM v CROSS JOIN c0 c) WHERE rn = 1),
m0 AS (
  SELECT cell_id, i, avg(vec[i]) AS m
  FROM a0 CROSS JOIN (SELECT unnest(range(1, {dim} + 1)) AS i) g
  GROUP BY cell_id, i),
c1 AS (
  SELECT cell_id, list(m ORDER BY i) AS svec,
         sqrt(list_dot_product(list(m ORDER BY i), list(m ORDER BY i))) AS snorm
  FROM m0 GROUP BY cell_id),
a1 AS (
  SELECT vec_id, vec, norm, cell_id FROM (
    SELECT v.vec_id, v.vec, v.norm, c.cell_id,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY {cs} DESC, c.cell_id ASC) AS rn
    FROM v CROSS JOIN c1 c) WHERE rn = 1)"""


def ivf_topk_sql(
    n_queries: int, k: int = 5, n_cells: int = 8, nprobe: int = 3, dim: int = EMB_DIM
) -> str:
    """DuckDB oracle twin of ivf_topk (deterministic seeds + 1 Lloyd
    refinement + nprobe probing), unrolled as chained CTEs like
    kmeans_l2_sql — upgrading ann_ivf from rows-only to value-checked.
    Cell-assignment and probe ranks use the 9dp round-before-rank idiom in
    both engines (refined centroids are float means — ADVICE r07 class);
    the final corpus-pair rank stays raw per the cosine_topk/embed_neardup
    precedent (margins between distinct data vectors are continuous and
    astronomically larger than ulps)."""
    qcs = "round(list_dot_product(q.qvec, c.svec) / (q.qnorm * c.snorm) + 1.0e-12, 9)"
    return f"""
WITH {_ivf_chain_sql(n_cells, dim)},
q AS (SELECT vec_id AS query_id, vec AS qvec, norm AS qnorm FROM v WHERE vec_id < {n_queries}),
probes AS (
  SELECT query_id, qvec, qnorm, cell_id FROM (
    SELECT q.query_id, q.qvec, q.qnorm, c.cell_id,
           row_number() OVER (PARTITION BY q.query_id ORDER BY {qcs} DESC, c.cell_id ASC) AS rn
    FROM q CROSS JOIN c1 c) WHERE rn <= {nprobe}),
cand AS (
  SELECT p.query_id, a1.vec_id,
         list_dot_product(p.qvec, a1.vec) / (p.qnorm * a1.norm) AS cos_sim
  FROM probes p JOIN a1 ON a1.cell_id = p.cell_id
  WHERE a1.vec_id <> p.query_id)
SELECT query_id, vec_id AS neighbor_id,
       (round((cos_sim) + 1.0e-9,6)+0.0e0) AS cos_sim, rank
FROM (
  SELECT query_id, vec_id, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) AS rank
  FROM cand)
WHERE rank <= {k}
"""


def _pq_sql_parts(
    n_sub: int = PQ_SUB, n_cent: int = PQ_CENT, refine_iters: int = 2, dim: int = EMB_DIM
) -> list:
    """CTE chain shared by pq_summary_sql / pq_recall_sql: subvector split,
    deterministic seed codebook, refine_iters unrolled Lloyd rounds. Final
    assignment CTE = a{refine_iters}, final codebook = cb{refine_iters}."""
    d_sub = dim // n_sub
    d2 = (
        "list_reduce(list_prepend(0.0e0, list_transform(range(1, {ds} + 1), "
        "i -> (u.subvec[i] - c.cvec[i]) * (u.subvec[i] - c.cvec[i]))), (a, b) -> a + b)"
    ).format(ds=d_sub)
    parts = [
        "v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec FROM embeddings)",
        f"""sub AS (
  SELECT vec_id, g.s, vec[g.s * {d_sub} + 1 : g.s * {d_sub} + {d_sub}] AS subvec
  FROM v CROSS JOIN (SELECT unnest(range(0, {n_sub})) AS s) g)""",
        f"cb0 AS (SELECT s, CAST(vec_id AS INT) AS code, subvec AS cvec FROM sub WHERE vec_id < {n_cent})",
    ]
    prev = "cb0"
    for it in range(refine_iters + 1):
        parts.append(
            f"""a{it} AS (
  SELECT vec_id, s, code, subvec, d2 FROM (
    SELECT u.vec_id, u.s, c.code, u.subvec, {d2} AS d2,
           row_number() OVER (PARTITION BY u.vec_id, u.s
                              ORDER BY round({d2} + 1.0e-12, 9) ASC, c.code ASC) AS rn
    FROM sub u JOIN {prev} c ON c.s = u.s) WHERE rn = 1)"""
        )
        if it < refine_iters:
            parts.append(
                f"""m{it} AS (
  SELECT s, code, i, avg(subvec[i]) AS cx
  FROM a{it} CROSS JOIN (SELECT unnest(range(1, {d_sub} + 1)) AS i) g
  GROUP BY s, code, i)"""
            )
            parts.append(
                f"cb{it + 1} AS (SELECT s, code, list(cx ORDER BY i) AS cvec FROM m{it} GROUP BY s, code)"
            )
            prev = f"cb{it + 1}"
    return parts


def pq_summary_sql(
    n_sub: int = PQ_SUB, n_cent: int = PQ_CENT, refine_iters: int = 2, dim: int = EMB_DIM
) -> str:
    """DuckDB oracle twin of pq_summary (deterministic seeds + refine_iters
    Lloyd rounds per subspace, unrolled as chained CTEs with the subspace
    as a key column) — upgrading embed_pq from rows-only to value-checked.
    Sub-vector L2 uses the sequential list_reduce fold (matches Spark's
    aggregate())."""
    body = ",\n".join(_pq_sql_parts(n_sub, n_cent, refine_iters, dim))
    return f"""
WITH {body}
SELECT vec_id, (round((sqrt(sum(d2))) + 1.0e-9,4)+0.0e0) AS recon_err
FROM a{refine_iters} GROUP BY vec_id
"""


def pq_recall_sql(
    n_queries: int = PQ_RECALL_Q, k: int = PQ_RECALL_K, n_sub: int = PQ_SUB,
    n_cent: int = PQ_CENT, refine_iters: int = 2, dim: int = EMB_DIM,
) -> str:
    """DuckDB oracle twin of pq_recall: same unrolled codebooks, the same
    9dp-rounded LUT, the same 6dp round-before-rank ADC and exact-L2
    rankings."""
    d_sub = dim // n_sub
    lut_d2 = (
        "list_reduce(list_prepend(0.0e0, list_transform(range(1, {ds} + 1), "
        "i -> (q.subvec[i] - c.cvec[i]) * (q.subvec[i] - c.cvec[i]))), (a, b) -> a + b)"
    ).format(ds=d_sub)
    ex_d2 = (
        "list_reduce(list_prepend(0.0e0, list_transform(range(1, {d} + 1), "
        "i -> (q.vec[i] - cp.vec[i]) * (q.vec[i] - cp.vec[i]))), (a, b) -> a + b)"
    ).format(d=dim)
    body = ",\n".join(_pq_sql_parts(n_sub, n_cent, refine_iters, dim))
    fa, fcb = f"a{refine_iters}", f"cb{refine_iters}"
    return f"""
WITH {body},
lut AS MATERIALIZED (
  SELECT q.vec_id AS query_id, c.s, c.code,
         round({lut_d2} + 1.0e-12, 9) + 0.0e0 AS ld2
  FROM sub q JOIN {fcb} c ON c.s = q.s
  WHERE q.vec_id < {n_queries}),
adc AS (
  SELECT l.query_id, a.vec_id,
         round(sum(l.ld2) + 1.0e-9, 6) + 0.0e0 AS d6
  FROM {fa} a JOIN lut l ON l.s = a.s AND l.code = a.code
  WHERE a.vec_id <> l.query_id
  GROUP BY l.query_id, a.vec_id),
ap AS MATERIALIZED (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY d6 ASC, vec_id ASC) AS rank
  FROM adc),
tr AS MATERIALIZED (
  SELECT query_id, neighbor_id, rank FROM (
    SELECT q.vec_id AS query_id, cp.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY round({ex_d2} + 1.0e-9, 6) + 0.0e0 ASC,
                                       cp.vec_id ASC) AS rank
    FROM v q JOIN v cp ON q.vec_id < {n_queries} AND cp.vec_id <> q.vec_id)
  WHERE rank <= {k})
SELECT t.query_id,
       CAST(count(a.vec_id) AS BIGINT) AS hits,
       round(count(a.vec_id) / {float(k)}e0 + 1.0e-9, 6) + 0.0e0 AS recall_at_k
FROM tr t LEFT JOIN ap a
  ON a.query_id = t.query_id AND a.vec_id = t.neighbor_id AND a.rank <= {k}
GROUP BY t.query_id ORDER BY t.query_id
"""


def _ivfpq_sql_core(
    n_queries: int = PQ_RECALL_Q,
    n_cells: int = IVFPQ_CELLS,
    nprobe: int = IVFPQ_PROBE,
    n_sub: int = PQ_SUB,
    n_cent: int = PQ_CENT,
    refine_iters: int = 2,
    dim: int = EMB_DIM,
) -> str:
    """Shared WITH-body (through the `adc` CTE) of the IVFADC oracle twins:
    the ivf_topk_sql coarse chain (deterministic seeds + 1 Lloyd round,
    9dp round-before-rank), a residual table (vector minus its cell
    centroid), the pq_recall_sql codebook chain re-rooted on residuals
    (p-prefixed CTEs), per-(query, probed cell) residual LUTs rounded at
    9dp, ADC sums rounded at 6dp."""
    d_sub = dim // n_sub
    cs = "round(list_dot_product(v.vec, c.svec) / (v.norm * c.snorm) + 1.0e-12, 9)"
    qcs = "round(list_dot_product(q.vec, c.svec) / (q.norm * c.snorm) + 1.0e-12, 9)"
    pd2 = (
        "list_reduce(list_prepend(0.0e0, list_transform(range(1, {ds} + 1), "
        "i -> (u.subvec[i] - c.cvec[i]) * (u.subvec[i] - c.cvec[i]))), (a, b) -> a + b)"
    ).format(ds=d_sub)
    lut_d2 = (
        "list_reduce(list_prepend(0.0e0, list_transform(range(1, {ds} + 1), "
        "i -> (q.qsub[i] - c.cvec[i]) * (q.qsub[i] - c.cvec[i]))), (a, b) -> a + b)"
    ).format(ds=d_sub)
    # residual-PQ codebook chain, re-rooted on pv (p-prefixed to avoid
    # colliding with the coarse a0/m0 CTEs)
    pq_parts = [
        f"""psub AS (
  SELECT vec_id, g.s, vec[g.s * {d_sub} + 1 : g.s * {d_sub} + {d_sub}] AS subvec
  FROM pv CROSS JOIN (SELECT unnest(range(0, {n_sub})) AS s) g)""",
        f"pcb0 AS (SELECT s, CAST(vec_id AS INT) AS code, subvec AS cvec FROM psub WHERE vec_id < {n_cent})",
    ]
    prev = "pcb0"
    for it in range(refine_iters + 1):
        pq_parts.append(
            f"""pa{it} AS (
  SELECT vec_id, s, code, subvec FROM (
    SELECT u.vec_id, u.s, c.code, u.subvec,
           row_number() OVER (PARTITION BY u.vec_id, u.s
                              ORDER BY round({pd2} + 1.0e-12, 9) ASC, c.code ASC) AS rn
    FROM psub u JOIN {prev} c ON c.s = u.s) WHERE rn = 1)"""
        )
        if it < refine_iters:
            pq_parts.append(
                f"""pm{it} AS (
  SELECT s, code, i, avg(subvec[i]) AS cx
  FROM pa{it} CROSS JOIN (SELECT unnest(range(1, {d_sub} + 1)) AS i) g
  GROUP BY s, code, i)"""
            )
            pq_parts.append(
                f"pcb{it + 1} AS (SELECT s, code, list(cx ORDER BY i) AS cvec FROM pm{it} GROUP BY s, code)"
            )
            prev = f"pcb{it + 1}"
    pq_body = ",\n".join(pq_parts)
    fa, fcb = f"pa{refine_iters}", f"pcb{refine_iters}"
    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec,
         sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                               list_transform(embedding, x -> CAST(x AS DOUBLE)))) AS norm
  FROM embeddings),
c0 AS (SELECT vec_id AS cell_id, vec AS svec, norm AS snorm FROM v WHERE vec_id < {n_cells}),
a0 AS (
  SELECT vec_id, vec, norm, cell_id FROM (
    SELECT v.vec_id, v.vec, v.norm, c.cell_id,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY {cs} DESC, c.cell_id ASC) AS rn
    FROM v CROSS JOIN c0 c) WHERE rn = 1),
m0 AS (
  SELECT cell_id, i, avg(vec[i]) AS m
  FROM a0 CROSS JOIN (SELECT unnest(range(1, {dim} + 1)) AS i) g
  GROUP BY cell_id, i),
c1 AS (
  SELECT cell_id, list(m ORDER BY i) AS svec,
         sqrt(list_dot_product(list(m ORDER BY i), list(m ORDER BY i))) AS snorm
  FROM m0 GROUP BY cell_id),
a1 AS MATERIALIZED (
  SELECT vec_id, vec, norm, cell_id FROM (
    SELECT v.vec_id, v.vec, v.norm, c.cell_id,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY {cs} DESC, c.cell_id ASC) AS rn
    FROM v CROSS JOIN c1 c) WHERE rn = 1),
pv AS MATERIALIZED (
  SELECT a.vec_id,
         list_transform(range(1, {dim} + 1), i -> a.vec[i] - c.svec[i]) AS vec
  FROM a1 a JOIN c1 c USING (cell_id)),
{pq_body},
probes AS (
  SELECT query_id, qvec, cell_id FROM (
    SELECT q.vec_id AS query_id, q.vec AS qvec, c.cell_id,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY {qcs} DESC, c.cell_id ASC) AS rn
    FROM v q CROSS JOIN c1 c WHERE q.vec_id < {n_queries}) WHERE rn <= {nprobe}),
qres AS (
  SELECT p.query_id, p.cell_id,
         list_transform(range(1, {dim} + 1), i -> p.qvec[i] - c.svec[i]) AS rv
  FROM probes p JOIN c1 c USING (cell_id)),
qsub AS (
  SELECT query_id, cell_id, g.s, rv[g.s * {d_sub} + 1 : g.s * {d_sub} + {d_sub}] AS qsub
  FROM qres CROSS JOIN (SELECT unnest(range(0, {n_sub})) AS s) g),
lut AS MATERIALIZED (
  SELECT q.query_id, q.cell_id, c.s, c.code,
         round({lut_d2} + 1.0e-12, 9) + 0.0e0 AS ld2
  FROM qsub q JOIN {fcb} c ON c.s = q.s),
adc AS (
  SELECT l.query_id, a.vec_id,
         round(sum(l.ld2) + 1.0e-9, 6) + 0.0e0 AS d6
  FROM {fa} a JOIN a1 av ON av.vec_id = a.vec_id
  JOIN lut l ON l.cell_id = av.cell_id AND l.s = a.s AND l.code = a.code
  WHERE a.vec_id <> l.query_id
  GROUP BY l.query_id, a.vec_id)"""


def _l2_truth_sql_cte(n_queries: int, k: int, dim: int = EMB_DIM) -> str:
    """The exact-L2 truth CTE (named tr) shared by the IVFADC oracle
    tails; assumes a `v (vec_id, vec, norm)` CTE is in scope."""
    ex_d2 = (
        "list_reduce(list_prepend(0.0e0, list_transform(range(1, {d} + 1), "
        "i -> (q.vec[i] - cp.vec[i]) * (q.vec[i] - cp.vec[i]))), (a, b) -> a + b)"
    ).format(d=dim)
    return f"""tr AS MATERIALIZED (
  SELECT query_id, neighbor_id, rank FROM (
    SELECT q.vec_id AS query_id, cp.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY round({ex_d2} + 1.0e-9, 6) + 0.0e0 ASC,
                                       cp.vec_id ASC) AS rank
    FROM v q JOIN v cp ON q.vec_id < {n_queries} AND cp.vec_id <> q.vec_id)
  WHERE rank <= {k})"""


def ivfpq_recall_sql(
    n_queries: int = PQ_RECALL_Q,
    k: int = PQ_RECALL_K,
    n_cells: int = IVFPQ_CELLS,
    nprobe: int = IVFPQ_PROBE,
    n_sub: int = PQ_SUB,
    n_cent: int = PQ_CENT,
    refine_iters: int = 2,
    dim: int = EMB_DIM,
) -> str:
    """DuckDB oracle twin of ivfpq_recall: the shared IVFADC core
    (_ivfpq_sql_core) plus the ADC top-k rank and the exact-L2
    truth/recall tail."""
    core = _ivfpq_sql_core(n_queries, n_cells, nprobe, n_sub, n_cent, refine_iters, dim)
    return f"""{core},
ap AS MATERIALIZED (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY d6 ASC, vec_id ASC) AS rank
  FROM adc),
{_l2_truth_sql_cte(n_queries, k, dim)}
SELECT t.query_id,
       CAST(count(a.vec_id) AS BIGINT) AS hits,
       round(count(a.vec_id) / {float(k)}e0 + 1.0e-9, 6) + 0.0e0 AS recall_at_k
FROM tr t LEFT JOIN ap a
  ON a.query_id = t.query_id AND a.vec_id = t.neighbor_id AND a.rank <= {k}
GROUP BY t.query_id ORDER BY t.query_id
"""


def rerank_frontier_sql(
    n_queries: int = PQ_RECALL_Q,
    k: int = PQ_RECALL_K,
    n_cells: int = IVFPQ_CELLS,
    nprobe: int = IVFPQ_PROBE,
    n_sub: int = PQ_SUB,
    n_cent: int = PQ_CENT,
    refine_iters: int = 2,
    budgets: tuple = RERANK_BUDGETS,
    dim: int = EMB_DIM,
) -> str:
    """DuckDB oracle twin of rerank_frontier: the shared IVFADC core, ADC
    ranks exploded over the re-rank budgets m >= rank, exact-L2 re-rank
    per (query, m) with the same 6dp round-before-rank as the truth set,
    recall averaged over queries per budget."""
    core = _ivfpq_sql_core(n_queries, n_cells, nprobe, n_sub, n_cent, refine_iters, dim)
    blist = ", ".join(str(int(m)) for m in budgets)
    rr_d2 = (
        "list_reduce(list_prepend(0.0e0, list_transform(range(1, {d} + 1), "
        "i -> (q.vec[i] - cv.vec[i]) * (q.vec[i] - cv.vec[i]))), (a, b) -> a + b)"
    ).format(d=dim)
    return f"""{core},
ar AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY d6 ASC, vec_id ASC) AS adc_rank
  FROM adc),
rc AS MATERIALIZED (
  SELECT a.query_id, a.vec_id, g.m
  FROM ar a CROSS JOIN (SELECT unnest([{blist}]) AS m) g
  WHERE g.m >= a.adc_rank),
rr AS (
  SELECT rc.query_id, rc.m, rc.vec_id,
         round({rr_d2} + 1.0e-9, 6) + 0.0e0 AS e6
  FROM rc JOIN v q ON q.vec_id = rc.query_id
  JOIN v cv ON cv.vec_id = rc.vec_id),
tk AS (
  SELECT query_id, m, vec_id FROM (
    SELECT query_id, m, vec_id,
           row_number() OVER (PARTITION BY query_id, m
                              ORDER BY e6 ASC, vec_id ASC) AS rank
    FROM rr) WHERE rank <= {k}),
{_l2_truth_sql_cte(n_queries, k, dim)},
hits AS (
  SELECT g.m, count(t2.vec_id) AS total_hits
  FROM tr t CROSS JOIN (SELECT unnest([{blist}]) AS m) g
  LEFT JOIN tk t2 ON t2.query_id = t.query_id AND t2.m = g.m
                 AND t2.vec_id = t.neighbor_id
  GROUP BY g.m),
cost AS (SELECT m, count(*) AS n_exact FROM rc GROUP BY m)
SELECT CAST(h.m AS INT) AS rerank_m,
       round(c.n_exact / {float(n_queries)}e0 + 1.0e-9, 6) + 0.0e0 AS avg_exact_evals,
       round(h.total_hits / {float(k * n_queries)}e0 + 1.0e-9, 6) + 0.0e0 AS mean_recall_at_k
FROM hits h JOIN cost c ON c.m = h.m
ORDER BY rerank_m
"""


POWER_ITERS = 40


def _deflated_power(C, k: int, iters: int) -> list:
    """Top-k eigenpairs [(λ, v), ...] of the symmetric matrix C by the
    FIXED-ITERATION power method with deflation: each component runs
    `iters` normalized steps from the uniform unit vector, takes
    λ = vᵀCv, then C deflates to C - λvvᵀ. Each chain is a contractive
    fixed point, so summation-order ulps between kernels (numpy BLAS vs
    the oracle's sequential list_sum) cannot accumulate — outputs are
    4dp-stable. O(k·iters·dim²) driver arithmetic on the collected
    matrix (64×64 for 64-dim embeddings)."""
    import numpy as np

    dim = C.shape[0]
    pairs = []
    for _ in range(k):
        v = np.full(dim, 1.0 / np.sqrt(dim))
        for _ in range(iters):
            w = C @ v
            v = w / np.sqrt((w * w).sum())
        lam = float(v @ (C @ v))
        pairs.append((lam, v))
        C = C - lam * np.outer(v, v)
    return pairs


def top_eigen(df: DataFrame, vec: str = "embedding", iters: int = POWER_ITERS) -> DataFrame:
    """Top covariance eigenvalue of the embedding cloud by FIXED-ITERATION
    power method — the oracle-checkable companion to pca_variance (a full
    eigensolve is not SQL-expressible, but k deterministic power steps
    are). The covariance matrix is built in one pass by the Gram-partial
    mapInPandas kernel (_cov_ddof1 / _gram_sufficient_stats — tiny
    slot-sum shuffle, no n·dim² exploded-self-join intermediate); the
    iteration is _deflated_power's first component, O(1) driver work,
    same convention as pca_variance's final eigh.

    → one row: (n, top_eigenvalue, explained_share, trace)."""
    import numpy as np

    n, _, C = _cov_ddof1(df, vec)
    [(lam, _)] = _deflated_power(C, 1, iters)
    trace = float(np.trace(C))
    spark = df.sparkSession
    out = spark.createDataFrame(
        [(n, lam, lam / trace, trace)],
        "n bigint, top_eigenvalue double, explained_share double, trace double",
    )
    return out


def top_eigen_sql(iters: int = POWER_ITERS, dim: int = EMB_DIM) -> str:
    """DuckDB oracle twin: same covariance build, same fixed power steps as
    a LIST-state recursive CTE."""
    cv = (
        "list_transform(range(1, {d} + 1), i -> "
        "list_sum(list_transform(range(1, {d} + 1), j -> gm.g[i][j] * rec.v[j])))"
    ).format(d=dim)
    return f"""
WITH RECURSIVE e AS (
  SELECT vec_id, u.i, CAST(embedding[u.i] AS DOUBLE) AS x
  FROM embeddings, (SELECT unnest(range(1, {dim} + 1)) AS i) u),
st AS (SELECT i, avg(x) AS m FROM e GROUP BY i),
nn AS (SELECT count(*) AS n FROM embeddings),
s AS (
  SELECT a.i AS ii, b.i AS jj, sum(a.x * b.x) AS sij
  FROM e a JOIN e b ON b.vec_id = a.vec_id
  GROUP BY a.i, b.i),
c AS (
  SELECT s.ii, s.jj,
         (s.sij - nn.n * ma.m * mb.m) / (nn.n - 1) AS cij
  FROM s JOIN st ma ON ma.i = s.ii JOIN st mb ON mb.i = s.jj CROSS JOIN nn),
gm AS (
  SELECT list(row ORDER BY ii) AS g FROM (
    SELECT ii, list(cij ORDER BY jj) AS row FROM c GROUP BY ii)),
rec(k, v) AS (
  SELECT 0, list_transform(range(1, {dim} + 1), i -> 1.0e0 / sqrt(CAST({dim} AS DOUBLE))) FROM gm
  UNION ALL
  SELECT rec.k + 1,
         list_transform({cv}, w -> w / sqrt(list_sum(list_transform({cv}, ww -> ww * ww))))
  FROM rec, gm WHERE rec.k < {iters}),
fin AS (SELECT v FROM rec WHERE k = {iters}),
lam AS (
  SELECT list_sum(list_transform(range(1, {dim} + 1), i ->
           fin.v[i] * list_sum(list_transform(range(1, {dim} + 1), j -> gm.g[i][j] * fin.v[j])))) AS lam
  FROM fin, gm),
tr AS (SELECT sum(cij) AS trace FROM c WHERE ii = jj)
SELECT nn.n,
       (round((lam.lam) + 1.0e-9,4)+0.0e0) AS top_eigenvalue,
       (round((lam.lam / tr.trace) + 1.0e-9,4)+0.0e0) AS explained_share,
       (round((tr.trace) + 1.0e-9,4)+0.0e0) AS trace
FROM lam, tr, nn
"""


# --- top-3 PCA via power iteration + deflation ------------------------------
PCA_POWER_K = 3


def pca_power(
    df: DataFrame, vec: str = "embedding", k: int = PCA_POWER_K,
    iters: int = POWER_ITERS,
) -> DataFrame:
    """Top-k principal components by power iteration WITH DEFLATION — the
    oracle-checkable PCA: after extracting (lambda_m, v_m), the covariance
    deflates to C - lambda v v^T and the next component repeats the same
    fixed-iteration chain. Extends top_eigen (single component) to the
    leading-k spectrum a curation pipeline actually inspects ("how many
    directions carry the embedding cloud").

    Scale shape: identical to top_eigen — the Gram-partial mapInPandas
    kernel (_cov_ddof1) builds C in one pass with a tiny slot-sum shuffle;
    the k chains of _deflated_power run on the driver."""
    import numpy as np

    _, _, C = _cov_ddof1(df, vec)
    trace = float(np.trace(C))
    out_rows = []
    cum = 0.0
    for comp, (lam, _) in enumerate(_deflated_power(C, k, iters), 1):
        cum = cum + lam
        out_rows.append((comp, lam, cum / trace))
    spark = df.sparkSession
    return spark.createDataFrame(
        out_rows, "component bigint, eigenvalue double, cum_explained double"
    )


def pca_power_sql(
    k: int = PCA_POWER_K, iters: int = POWER_ITERS, dim: int = EMB_DIM
) -> str:
    """DuckDB oracle: the same k deflated power chains, unrolled, each a
    LIST-state recursive CTE over the (deflated) matrix list-of-lists."""
    def cv(g: str, v: str) -> str:
        return (
            f"list_transform(range(1, {dim} + 1), i -> "
            f"list_sum(list_transform(range(1, {dim} + 1), j -> {g}[i][j] * {v}[j])))"
        )

    parts = [f"""
WITH RECURSIVE e AS (
  SELECT vec_id, u.i, CAST(embedding[u.i] AS DOUBLE) AS x
  FROM embeddings, (SELECT unnest(range(1, {dim} + 1)) AS i) u),
st AS (SELECT i, avg(x) AS m FROM e GROUP BY i),
nn AS (SELECT count(*) AS n FROM embeddings),
s AS (
  SELECT a.i AS ii, b.i AS jj, sum(a.x * b.x) AS sij
  FROM e a JOIN e b ON b.vec_id = a.vec_id
  GROUP BY a.i, b.i),
c AS (
  SELECT s.ii, s.jj,
         (s.sij - nn.n * ma.m * mb.m) / (nn.n - 1) AS cij
  FROM s JOIN st ma ON ma.i = s.ii JOIN st mb ON mb.i = s.jj CROSS JOIN nn),
gm1 AS MATERIALIZED (
  SELECT list(row ORDER BY ii) AS g FROM (
    SELECT ii, list(cij ORDER BY jj) AS row FROM c GROUP BY ii)),
tr AS (SELECT sum(cij) AS trace FROM c WHERE ii = jj)"""]
    for m in range(1, k + 1):
        g = f"gm{m}"
        step = cv(f"{g}.g", "rec.v")
        parts.append(f""",
rec{m}(k, v) AS (
  SELECT 0, list_transform(range(1, {dim} + 1),
                           i -> 1.0e0 / sqrt(CAST({dim} AS DOUBLE)))
  FROM {g}
  UNION ALL
  SELECT rec.k + 1,
         list_transform({step}, w ->
           w / sqrt(list_sum(list_transform({step}, ww -> ww * ww))))
  FROM rec{m} rec, {g} WHERE rec.k < {iters}),
fin{m} AS MATERIALIZED (SELECT v FROM rec{m} WHERE k = {iters}),
lam{m} AS MATERIALIZED (
  SELECT list_sum(list_transform(range(1, {dim} + 1), i ->
           fin.v[i] * list_sum(list_transform(range(1, {dim} + 1),
             j -> {g}.g[i][j] * fin.v[j])))) AS lam
  FROM fin{m} fin, {g})""")
        if m < k:
            parts.append(f""",
gm{m + 1} AS MATERIALIZED (
  SELECT list_transform(range(1, {dim} + 1), i ->
           list_transform(range(1, {dim} + 1), j ->
             {g}.g[i][j] - lam.lam * fin.v[i] * fin.v[j])) AS g
  FROM {g}, fin{m} fin, lam{m} lam)""")
    emits = "\nUNION ALL\n".join(
        f"""SELECT {m} AS component,
       (round(lam{m}.lam + 1.0e-9, 4) + 0.0e0) AS eigenvalue,
       (round(({' + '.join(f'lam{j}.lam' for j in range(1, m + 1))}) / tr.trace
              + 1.0e-9, 4) + 0.0e0) AS cum_explained
FROM tr{''.join(f', lam{j}' for j in range(1, m + 1))}"""
        for m in range(1, k + 1)
    )
    return "".join(parts) + "\n" + emits


# --- All-but-the-Top embedding postprocess -----------------------------------
ABTT_D = 2


def _abtt_directions(
    df: DataFrame, vec: str = "embedding", d: int = ABTT_D,
    iters: int = POWER_ITERS,
):
    """Shared ABTT front half: centered top-`d` principal directions by
    _deflated_power on the collected dim x dim covariance (built in one
    pass by the Gram-partial mapInPandas kernel _cov_ddof1). Returns the
    exploded (vec_id, i, x) table and the broadcastable (i, m, v1..vd)
    projection table consumed by abtt_postprocess / abtt_recall."""
    e = df.select("vec_id", F.posexplode(F.col(vec).cast("array<double>")).alias("i", "x"))
    n, mu, C = _cov_ddof1(df, vec)
    ms = {i: float(mu[i]) for i in range(len(mu))}
    dim = len(ms)
    vs = [v for _, v in _deflated_power(C, d, iters)]
    spark = df.sparkSession
    proj = spark.createDataFrame(
        [
            (int(i), float(ms[i]), *[float(v[i]) for v in vs])
            for i in range(dim)
        ],
        "i int, m double, " + ", ".join(f"v{k + 1} double" for k in range(d)),
    )
    return e, proj


def abtt_postprocess(
    df: DataFrame, vec: str = "embedding", d: int = ABTT_D,
    iters: int = POWER_ITERS,
) -> DataFrame:
    """All-but-the-Top embedding postprocessing (Mu & Viswanath, ICLR 2018
    "All-but-the-Top: Simple and Effective Postprocessing for Word
    Representations"): subtract the cloud mean, then remove the
    projections onto the top-`d` principal directions — the cheap
    isotropy fix that consistently improves similarity tasks, and the
    standard hygiene step before cosine-based dedup/ANN (the common
    direction otherwise inflates all similarities). Per-vector readout of
    what the transform removes: raw norm, centered energy, and the
    fraction of centered energy the vector KEEPS after removal —
    corpus-level isotropy is the energy-weighted mean of kept_frac.

    Scale shape: the covariance build is the Gram-partial mapInPandas
    kernel (_cov_ddof1, shared with top_eigen/pca_variance); the d power
    chains run on the collected dim x dim matrix (bounded driver state); the
    projection itself is ONE vec_id-keyed agg over the exploded table
    with the (mu, v_1..v_d) table broadcast — no per-vector Python, no
    second shuffle wider than the input. Removed energy uses the closed
    form ||c||^2 - sum_m (c . v_m)^2 in BOTH engines (v_m near-orthogonal
    by deflation; both engines share the same formula so the tiny
    non-orthogonality cancels in the compare).
    -> (vec_id, norm_raw, norm_centered, kept_frac)."""
    e, proj = _abtt_directions(df, vec, d, iters)
    agg_cols = [
        F.sum(F.col("x") * F.col("x")).alias("x2"),
        F.sum((F.col("x") - F.col("m")) * (F.col("x") - F.col("m"))).alias("c2"),
    ] + [
        F.sum((F.col("x") - F.col("m")) * F.col(f"v{k + 1}")).alias(f"p{k + 1}")
        for k in range(d)
    ]
    per = e.join(F.broadcast(proj), "i").groupBy("vec_id").agg(*agg_cols)
    removed = " + ".join(f"p{k + 1} * p{k + 1}" for k in range(d))
    out = per.select(
        "vec_id",
        F.expr("sqrt(x2)").alias("norm_raw"),
        F.expr("sqrt(c2)").alias("norm_centered"),
        F.expr(f"greatest(c2 - ({removed}), 0.0e0) / c2").alias("kept_frac"),
    ).orderBy("vec_id")
    from .queries import roundn

    return roundn(out, 4, "norm_raw", "norm_centered", "kept_frac")


def _abtt_sql_prefix(d: int = ABTT_D, iters: int = POWER_ITERS, dim: int = EMB_DIM) -> str:
    """CTE prefix shared by abtt_sql / abtt_recall_sql: exploded table e,
    per-dim means st, covariance gm1, and the d deflated power chains
    ending at fin1..fin{d} (same construction as pca_power_sql)."""
    def cv(g: str, v: str) -> str:
        return (
            f"list_transform(range(1, {dim} + 1), i -> "
            f"list_sum(list_transform(range(1, {dim} + 1), j -> {g}[i][j] * {v}[j])))"
        )

    parts = [f"""
WITH RECURSIVE e AS MATERIALIZED (
  SELECT vec_id, u.i, CAST(embedding[u.i] AS DOUBLE) AS x
  FROM embeddings, (SELECT unnest(range(1, {dim} + 1)) AS i) u),
st AS MATERIALIZED (SELECT i, avg(x) AS m FROM e GROUP BY i),
nn AS (SELECT count(*) AS n FROM embeddings),
s AS (
  SELECT a.i AS ii, b.i AS jj, sum(a.x * b.x) AS sij
  FROM e a JOIN e b ON b.vec_id = a.vec_id
  GROUP BY a.i, b.i),
c AS (
  SELECT s.ii, s.jj,
         (s.sij - nn.n * ma.m * mb.m) / (nn.n - 1) AS cij
  FROM s JOIN st ma ON ma.i = s.ii JOIN st mb ON mb.i = s.jj CROSS JOIN nn),
gm1 AS MATERIALIZED (
  SELECT list(row ORDER BY ii) AS g FROM (
    SELECT ii, list(cij ORDER BY jj) AS row FROM c GROUP BY ii))"""]
    for m in range(1, d + 1):
        g = f"gm{m}"
        step = cv(f"{g}.g", "rec.v")
        parts.append(f""",
rec{m}(k, v) AS (
  SELECT 0, list_transform(range(1, {dim} + 1),
                           i -> 1.0e0 / sqrt(CAST({dim} AS DOUBLE)))
  FROM {g}
  UNION ALL
  SELECT rec.k + 1,
         list_transform({step}, w ->
           w / sqrt(list_sum(list_transform({step}, ww -> ww * ww))))
  FROM rec{m} rec, {g} WHERE rec.k < {iters}),
fin{m} AS MATERIALIZED (SELECT v FROM rec{m} WHERE k = {iters})""")
        if m < d:
            parts.append(f""",
lam{m} AS MATERIALIZED (
  SELECT list_sum(list_transform(range(1, {dim} + 1), i ->
           fin.v[i] * list_sum(list_transform(range(1, {dim} + 1),
             j -> {g}.g[i][j] * fin.v[j])))) AS lam
  FROM fin{m} fin, {g}),
gm{m + 1} AS MATERIALIZED (
  SELECT list_transform(range(1, {dim} + 1), i ->
           list_transform(range(1, {dim} + 1), j ->
             {g}.g[i][j] - lam.lam * fin.v[i] * fin.v[j])) AS g
  FROM {g}, fin{m} fin, lam{m} lam)""")
    return "".join(parts)


def abtt_sql(d: int = ABTT_D, iters: int = POWER_ITERS, dim: int = EMB_DIM) -> str:
    """DuckDB oracle: the same d deflated power chains as pca_power_sql,
    then the same closed-form per-vector projection agg."""
    ps = ", ".join(
        f"sum((e.x - st.m) * fin{m}.v[e.i]) AS p{m}" for m in range(1, d + 1)
    )
    fins = "".join(f", fin{m}" for m in range(1, d + 1))
    removed = " + ".join(f"p{m} * p{m}" for m in range(1, d + 1))
    return _abtt_sql_prefix(d, iters, dim) + (f""",
per AS (
  SELECT e.vec_id, sum(e.x * e.x) AS x2,
         sum((e.x - st.m) * (e.x - st.m)) AS c2, {ps}
  FROM e JOIN st USING (i){fins}
  GROUP BY e.vec_id)
SELECT vec_id,
       (round(sqrt(x2) + 1.0e-9, 4) + 0.0e0) AS norm_raw,
       (round(sqrt(c2) + 1.0e-9, 4) + 0.0e0) AS norm_centered,
       (round(greatest(c2 - ({removed}), 0.0e0) / c2 + 1.0e-9, 4) + 0.0e0)
         AS kept_frac
FROM per ORDER BY vec_id""")


ABTT_RECALL_Q, ABTT_RECALL_K = 16, 8


def abtt_recall(
    df: DataFrame, n_queries: int = ABTT_RECALL_Q, k: int = ABTT_RECALL_K,
    vec: str = "embedding", d: int = ABTT_D, iters: int = POWER_ITERS,
) -> DataFrame:
    """Semantic-retrieval eval of the ABTT postprocess (Mu & Viswanath,
    ICLR 2018 recommend it precisely for similarity tasks): exact cosine
    top-k in the RAW space vs in the ABTT space (mean-centered, top-d
    principal directions removed), per query — neighbor-set overlap plus
    each space's mean top-k similarity. The mean-sim gap reads out how
    much the common direction was inflating similarities (the isotropy
    artifact ABTT removes); the overlap says how much the postprocess
    actually rewrites retrieval/dedup neighborhoods before you rerun
    semdedup/ann on transformed vectors. Pairs with ann_ivf_recall
    (probe axis) and embed_trunc_recall (dimension axis).

    Scale shape: directions come from the bounded dim^2 Gram collect
    (_abtt_directions); the transform is two vec_id-keyed aggs with the
    (mu, v_1..v_d) table broadcast; both top-k passes are the broadcast-
    query brute-force scorer. Similarities are rounded at 6dp BEFORE
    ranking in both engines (embed_trunc_recall precedent) so rank order
    cannot flip on cross-engine ulps.
    -> (query_id, n_common, overlap_at_k, mean_sim_raw, mean_sim_abtt)."""
    e, proj = _abtt_directions(df, vec, d, iters)
    ep = e.join(F.broadcast(proj), "i")
    # per-vector projections as window sums over the one vec_id partition
    # instead of groupBy + join-back: the join-back re-evaluated the
    # exploded table per branch (recompute census) and cost two extra
    # exchanges; the window shares the single hash(vec_id) shuffle
    wv = Window.partitionBy("vec_id")
    pcols = [
        F.sum((F.col("x") - F.col("m")) * F.col(f"v{j + 1}")).over(wv).alias(f"p{j + 1}")
        for j in range(d)
    ]
    removed = " + ".join(f"p{j + 1} * v{j + 1}" for j in range(d))
    t = ep.select("vec_id", "i", "x", "m", *[f"v{j + 1}" for j in range(d)], *pcols).select(
        "vec_id", "i", F.expr(f"x - m - ({removed})").alias("y")
    )
    # pin the transformed corpus: both sides of its top-k read it
    tvec = to_wide(t, ["vec_id"], "y", order="i").localCheckpoint(eager=False)

    def topk6(space: DataFrame, vcol: str) -> DataFrame:
        v = with_norm(space, vcol)
        c = v.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("_vec").alias("cvec"), F.col("norm").alias("cnorm"),
        )
        q = v.filter(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("query_id"),
            F.col("_vec").alias("qvec"), F.col("norm").alias("qnorm"),
        )
        sim = (
            c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
            .withColumn(
                "cs6",
                F.round(
                    cosine("qvec", "cvec") / (F.col("qnorm") * F.col("cnorm"))
                    + F.lit(1e-9),
                    6,
                )
                + F.lit(0.0),
            )
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("cs6"), F.asc("neighbor_id"))
        return (
            sim.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cs6")
        )

    raw = topk6(df.select("vec_id", vec), vec)
    # n_queries*k rows, read twice (overlap join + mean-sim agg)
    ab = topk6(tvec, "vs").localCheckpoint(eager=False)
    ov = (
        raw.join(
            ab.select(
                F.col("query_id").alias("a_qid"), F.col("neighbor_id").alias("a_nid")
            ),
            (F.col("query_id") == F.col("a_qid"))
            & (F.col("neighbor_id") == F.col("a_nid")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("a_nid").cast("bigint").alias("n_common"),
            (
                F.round(F.count("a_nid") / F.lit(float(k)) + F.lit(1e-9), 6)
                + F.lit(0.0)
            ).alias("overlap_at_k"),
            (F.round(F.avg("cs6") + F.lit(1e-9), 6) + F.lit(0.0)).alias(
                "mean_sim_raw"
            ),
        )
    )
    ma = ab.groupBy("query_id").agg(
        (F.round(F.avg("cs6") + F.lit(1e-9), 6) + F.lit(0.0)).alias("mean_sim_abtt")
    )
    return ov.join(ma, "query_id").orderBy("query_id")


def _ranked_cos6(src: str, n_queries: int) -> str:
    """Ranked-cosine CTE body over a (vec_id, vec, norm) table `src`:
    6dp round-before-rank, neighbor_id tiebreak — the one scorer both
    abtt_recall spaces share (kept as a single template so the rounding/
    tiebreak can never diverge between them)."""
    return f"""
  SELECT query_id, neighbor_id, cs6,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cs6 DESC, neighbor_id ASC) AS rank
  FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           round(list_dot_product(q.vec, c.vec) / (q.norm * c.norm)
                 + 1.0e-9, 6) + 0.0e0 AS cs6
    FROM {src} q JOIN {src} c ON q.vec_id < {n_queries} AND c.vec_id <> q.vec_id)"""


def abtt_recall_sql(
    n_queries: int = ABTT_RECALL_Q, k: int = ABTT_RECALL_K,
    d: int = ABTT_D, iters: int = POWER_ITERS, dim: int = EMB_DIM,
) -> str:
    """DuckDB oracle twin of abtt_recall: same power chains, same
    transform, same 6dp-round-before-rank."""
    ps = ", ".join(
        f"sum((e.x - st.m) * fin{m}.v[e.i]) AS p{m}" for m in range(1, d + 1)
    )
    fins = "".join(f", fin{m}" for m in range(1, d + 1))
    sub = " - ".join(f"p.p{m} * fin{m}.v[e.i]" for m in range(1, d + 1))
    return _abtt_sql_prefix(d, iters, dim) + f""",
p AS MATERIALIZED (
  SELECT e.vec_id, {ps}
  FROM e JOIN st USING (i){fins}
  GROUP BY e.vec_id),
t AS (
  SELECT e.vec_id, e.i, e.x - st.m - {sub} AS y
  FROM e JOIN st USING (i) JOIN p ON p.vec_id = e.vec_id{fins}),
tv AS MATERIALIZED (
  SELECT vec_id, list(y ORDER BY i) AS vec FROM t GROUP BY vec_id),
tn AS (SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS norm FROM tv),
rw AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings),
rn AS (SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS norm FROM rw),
rt AS MATERIALIZED ({_ranked_cos6("rn", n_queries)}),
at2 AS MATERIALIZED ({_ranked_cos6("tn", n_queries)}),
ov AS (
  SELECT r.query_id,
         CAST(count(a.neighbor_id) AS BIGINT) AS n_common,
         round(count(a.neighbor_id) / {float(k)}e0 + 1.0e-9, 6) + 0.0e0
           AS overlap_at_k,
         round(avg(r.cs6) + 1.0e-9, 6) + 0.0e0 AS mean_sim_raw
  FROM rt r LEFT JOIN at2 a
    ON a.query_id = r.query_id AND a.neighbor_id = r.neighbor_id
       AND a.rank <= {k}
  WHERE r.rank <= {k}
  GROUP BY r.query_id),
mab AS (
  SELECT query_id, round(avg(cs6) + 1.0e-9, 6) + 0.0e0 AS mean_sim_abtt
  FROM at2 WHERE rank <= {k} GROUP BY query_id)
SELECT ov.query_id, ov.n_common, ov.overlap_at_k, ov.mean_sim_raw,
       mab.mean_sim_abtt
FROM ov JOIN mab ON mab.query_id = ov.query_id
ORDER BY ov.query_id"""


# --- retrieval quality: mAP@k against labels ---------------------------------
MAP_K = 10


def map_at_k(emb: DataFrame, n_queries: int = 10, k: int = MAP_K) -> DataFrame:
    """Label-based retrieval quality: for each query vector, rank the
    corpus by exact cosine and score average precision at k against the
    `label` column (rel_i = neighbor shares the query's label) — the
    eval that tells you whether an embedding space clusters by the thing
    you care about, run before trusting it for semantic dedup or ANN
    routing. AP@k = sum_i(prec@i * rel_i) / min(k, R) with R = corpus
    relevant count (same-label vectors minus self).

    Scale shape: reuses the broadcast-query brute-force scorer (corpus
    streams, queries broadcast); label joins are corpus-keyed; the
    precision windows run per query over k rows."""
    from pyspark.sql import Window

    # pin: five branches (brute-force corpus + queries, both label joins,
    # the per-label relevant counts) otherwise re-scan embeddings each —
    # the plan-lint recompute>=4 site (VERDICT r12 item 5); one scan now
    emb = emb.select("vec_id", "label", "embedding").localCheckpoint(eager=False)
    nb = brute_force_topk(emb, emb.filter(F.col("vec_id") < n_queries), k=k)
    lab = emb.select("vec_id", "label")
    j = (
        nb.join(
            lab.select(F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nl")),
            "neighbor_id",
        )
        .join(
            F.broadcast(
                lab.filter(F.col("vec_id") < n_queries).select(
                    F.col("vec_id").alias("query_id"), F.col("label").alias("ql")
                )
            ),
            "query_id",
        )
        .withColumn("rel", (F.col("nl") == F.col("ql")).cast("int"))
    )
    wq = Window.partitionBy("query_id").orderBy("rank")
    terms = j.withColumn("cum", F.sum("rel").over(wq)).withColumn(
        "term", F.col("rel") * F.col("cum").cast("double") / F.col("rank")
    )
    rcount = emb.groupBy("label").agg(F.count("*").alias("n_lab"))
    out = (
        terms.groupBy("query_id", "ql")
        .agg(F.sum("rel").alias("n_rel_at_k"), F.sum("term").alias("ap_num"))
        .join(F.broadcast(rcount.withColumnRenamed("label", "ql")), "ql")
        .withColumn(
            "ap",
            F.col("ap_num")
            / F.least(F.lit(float(k)), (F.col("n_lab") - 1).cast("double")),
        )
        .select(
            "query_id",
            F.col("ql").alias("q_label"),
            F.col("n_rel_at_k").cast("bigint").alias("n_rel_at_k"),
            (F.round(F.col("ap") + F.lit(1e-9), 6) + F.lit(0.0)).alias("ap"),
        )
    )
    return out


def map_at_k_sql(n_queries: int = 10, k: int = MAP_K) -> str:
    return f"""
WITH v AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings),
n AS (SELECT vec_id, label, vec, sqrt(list_dot_product(vec, vec)) AS norm FROM v),
pairs AS (
  SELECT q.vec_id AS query_id, q.label AS ql, c.vec_id AS neighbor_id,
         c.label AS nl,
         list_dot_product(q.vec, c.vec) / (q.norm * c.norm) AS cos_sim
  FROM n q JOIN n c ON q.vec_id < {n_queries} AND c.vec_id <> q.vec_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM pairs),
terms AS (
  SELECT query_id, ql,
         CASE WHEN nl = ql THEN 1 ELSE 0 END AS rel, rank,
         CAST(sum(CASE WHEN nl = ql THEN 1 ELSE 0 END)
              OVER (PARTITION BY query_id ORDER BY rank
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           / rank AS prec
  FROM ranked WHERE rank <= {k}),
rc AS (SELECT label, count(*) AS n_lab FROM embeddings GROUP BY label)
SELECT query_id, ql AS q_label,
       CAST(sum(rel) AS BIGINT) AS n_rel_at_k,
       (round(sum(rel * prec)
              / least(CAST({k} AS DOUBLE), CAST(rc.n_lab - 1 AS DOUBLE))
              + 1.0e-9, 6) + 0.0e0) AS ap
FROM terms JOIN rc ON rc.label = terms.ql
GROUP BY query_id, ql, rc.n_lab
"""
