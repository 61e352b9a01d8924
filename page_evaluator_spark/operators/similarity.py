"""Similarity search over an embedding column (array<float>).

Three tiers (SURVEY-mandated scale path):
  * brute-force cosine top-k — the exactness baseline; broadcast the (small)
    query set, score every row, per-query top-k via window.  Linear scan,
    embarrassingly parallel, no shuffle except the final per-query top-k.
  * IVF (inverted-file) ANN — the coarse-quantizer shape real vector stores
    use: assign every vector to its nearest centroid ONCE (a pure projection
    against broadcast/inlined centroids — zero shuffle), probe the nprobe
    nearest cells per query, exact-score only those cells' members.  Candidate
    fraction ≈ nprobe / n_cells of the corpus.
  * IVF-PQ ANN — IVF probing plus product-quantization codes, so each probed
    candidate is scored from m small-int codes via per-query lookup tables.

All dot products are native (zip_with + aggregate fold, sequential
left-to-right in doubles — deterministic, and co-expressible in SQL).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _to_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential fold — deterministic double summation order."""
    return F.aggregate(F.zip_with(_to_double(a), _to_double(b), lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(_to_double(a), lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(embeddings: DataFrame, queries: DataFrame, k: int = 10,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     query_id_col: str = "query_id") -> DataFrame:
    """Exact cosine top-k: every query × every row, broadcast the query side.

    queries: (query_id, embedding).  Returns (query_id, rank, neighbor_id,
    cosine_sim) excluding self-matches.
    """
    from .skew import ensure_min_parallelism

    q = F.broadcast(queries.select(F.col(query_id_col).alias("query_id"),
                                   F.col(vec_col).alias("q_vec")))
    scored = (ensure_min_parallelism(embeddings)
              .select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("e_vec"))
              .crossJoin(q)
              .where(F.col("neighbor_id") != F.col("query_id"))
              .withColumn("cosine_sim", cosine(F.col("q_vec"), F.col("e_vec"))))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), "neighbor_id")
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "rank", "neighbor_id",
                    F.round("cosine_sim", 6).alias("cosine_sim")))


def _cosine_to_lit(vec: Column, const: list[float]) -> Column:
    """cosine(vec, literal centroid) — same fold order as cosine()."""
    c = F.array(*[F.lit(float(x)) for x in const])
    return dot(vec, c) / (norm(vec) * norm(c))


def ivf_cell_expr(vec: Column, centroids: list[tuple[int, list[float]]]) -> Column:
    """Nearest-centroid cell id as a PURE PROJECTION (no join, no shuffle):
    array_min over (−cosine, cell_id) structs picks max-sim, ties → lowest
    cell.  Centroids are inlined literals — at 100 TB the assignment pass is
    embarrassingly parallel and codegen'd."""
    structs = [F.struct((-_cosine_to_lit(vec, cv)).alias("negsim"),
                        F.lit(int(cid)).alias("cell"))
               for cid, cv in centroids]
    return F.array_min(F.array(*structs))["cell"]


def ivf_probe_cells_expr(vec: Column, centroids: list[tuple[int, list[float]]],
                         nprobe: int) -> Column:
    """The nprobe nearest cell ids (ordered best-first, ties → lowest cell)."""
    structs = [F.struct((-_cosine_to_lit(vec, cv)).alias("negsim"),
                        F.lit(int(cid)).alias("cell"))
               for cid, cv in centroids]
    ordered = F.slice(F.array_sort(F.array(*structs)), 1, nprobe)
    return F.transform(ordered, lambda s: s["cell"])


def ivf_centroids(embeddings: DataFrame, n_cells: int,
                  id_col: str = "vec_id", vec_col: str = "embedding"
                  ) -> list[tuple[int, list[float]]]:
    """Deterministic coarse quantizer: the n_cells lowest-id vectors.

    A tiny dimension-table collect (n_cells × dim floats, not a data
    collect).  Production would refine these with k-means rounds (each
    round = one broadcast-assign projection + one groupBy(cell) mean agg —
    the same primitives, omitted here so results stay run-order-independent
    and SQL-re-derivable)."""
    if n_cells < 1:
        raise ValueError(f"ivf_centroids needs n_cells >= 1, got {n_cells}")
    rows = (embeddings.where(F.col(id_col) < n_cells)
            .select(F.col(id_col).cast("int").alias("cid"), F.col(vec_col).alias("v"))
            .orderBy("cid").collect())
    if len(rows) < n_cells:
        # the seeding assumes dense integer ids 0..n_cells-1 exist; with
        # sparse/string ids or a corpus smaller than n_cells we'd silently
        # return too few (possibly zero) centroids and downstream cell
        # expressions would build empty arrays — fail loudly instead
        raise ValueError(
            f"ivf_centroids seeds from the {n_cells} lowest integer ids and "
            f"found only {len(rows)} vectors with {id_col} < {n_cells}; the "
            f"corpus must contain dense ids 0..{n_cells - 1}")
    # ADVICE r4: a zero-norm seed makes cosine-to-centroid NaN, and the two
    # engines ORDER NaN differently (Spark's array_min sorts it last, the
    # DuckDB twin's ORDER BY ... DESC sorts it first), silently breaking
    # parity; pq_codebooks would divide by the zero norm outright.  One
    # guard here protects all three consumers.
    zero = [r["cid"] for r in rows if not any(x != 0.0 for x in r["v"])]
    if zero:
        raise ValueError(
            f"ivf_centroids: zero-norm seed vector(s) at {id_col} {zero}; "
            f"cosine against a zero vector is NaN and engine NaN ordering "
            f"diverges — drop or re-id these rows before indexing")
    return [(r["cid"], [float(x) for x in r["v"]]) for r in rows]


def _seed_dim(vectors) -> int:
    """Common width of the seed vectors; empty/ragged seeds would silently
    become dim=0 / truncated math downstream — fail loudly instead."""
    dims = {len(v) for v in vectors}
    if len(dims) != 1 or 0 in dims:
        raise ValueError(
            f"cannot infer embedding dim from seed vectors: widths {sorted(dims)}")
    return dims.pop()


# fixed-point scale for deterministic k-means centroid means: accumulating
# sum(floor(x · 2^20)) in LONGS makes the per-cell mean independent of
# partitioning / summation order — floating-point sums are not associative,
# so a double-sum mean would differ between cluster sizes (and from DuckDB)
IVF_FXP = 1 << 20


def ivf_kmeans_centroids(embeddings: DataFrame, n_cells: int, n_rounds: int = 1,
                         dim: int | None = None, id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         seeds: list[tuple[int, list[float]]] | None = None
                         ) -> list[tuple[int, list[float]]]:
    """Seeded, k-means-refined coarse quantizer (VERDICT r3 #3).

    Init = the n_cells lowest-id vectors.  Each round: (1) assign every
    vector to its nearest current centroid — a broadcast-literal projection,
    ZERO shuffle over the corpus; (2) per-cell component-wise mean, summed in
    fixed-point longs (exact, order-independent) and divided back to double —
    one map-side-combined groupBy(cell) agg whose output is n_cells rows (a
    dimension-table collect, like the init).  Empty cells keep their previous
    centroid.  Fully deterministic → the DuckDB twin re-derives the round
    bit-exactly.
    """
    cents = seeds if seeds is not None else \
        ivf_centroids(embeddings, n_cells, id_col, vec_col)
    if len(cents) < n_cells:
        raise ValueError(f"need {n_cells} seed centroids, got {len(cents)}")
    cents = cents[:n_cells]
    if dim is None:
        # derive from the seeds — a hardcoded width would silently truncate
        # wider embeddings (NULL-padded zip_with cosines) or abort on
        # narrower ones (ANSI element_at out of bounds)
        dim = _seed_dim(v for _, v in cents)
    base = embeddings.select(F.col(vec_col).alias("v"))
    for _ in range(n_rounds):
        assigned = base.withColumn("cell", ivf_cell_expr(F.col("v"), cents))
        aggs = [F.count("*").alias("n")] + [
            F.sum(F.floor(F.element_at(F.col("v"), i + 1).cast("double")
                          * F.lit(float(IVF_FXP)))).alias(f"s{i}")
            for i in range(dim)]
        by_cell = {int(r["cell"]): r for r in assigned.groupBy("cell").agg(*aggs).collect()}
        new_cents = []
        for cid, old in cents:
            r = by_cell.get(cid)
            if r is None or int(r["n"]) == 0:
                new_cents.append((cid, old))
            else:
                # float()/float() mirrors the twin's DOUBLE/DOUBLE division
                # (both operands < 2^53 → conversions are exact).  ADVICE r4:
                # that invariant is only true while |sum| < 2^53 — a ~10^9-row
                # cell with |x|~10^3 components would pass it silently, so
                # fail loudly instead of losing bit-parity.
                denom = float(int(r["n"]) * IVF_FXP)
                sums = []
                for i in range(dim):
                    s = int(r[f"s{i}"])
                    if abs(s) >= 1 << 53 or int(r["n"]) * IVF_FXP >= 1 << 53:
                        raise ValueError(
                            f"ivf_kmeans_centroids: fixed-point sum {s} (cell "
                            f"{cid}, component {i}, n={r['n']}) exceeds 2^53; "
                            f"exact long->double conversion no longer holds — "
                            f"lower IVF_FXP or shard the corpus")
                    sums.append(s)
                new_cents.append((cid, [float(s) / denom for s in sums]))
        cents = new_cents
    return cents


def ivf_ann_topk(embeddings: DataFrame, queries: DataFrame, k: int = 10,
                 n_cells: int = 16, nprobe: int = 4, kmeans_rounds: int = 0,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 query_id_col: str = "query_id") -> DataFrame:
    """IVF ANN top-k: nearest-cell assignment (zero-shuffle projection) →
    probe nprobe cells per query → exact cosine within candidates → top-k.

    The only wide operations touch CANDIDATES (≈ nprobe/n_cells of the data):
    the cell join broadcasts the exploded query probes onto the assigned
    corpus (no corpus shuffle), and the final top-k window sees only scored
    candidates.  kmeans_rounds > 0 refines the seeded centroids first
    (ivf_kmeans_centroids) — better-balanced cells at equal nprobe.  Fully
    deterministic → exact DuckDB twin."""
    from .skew import ensure_min_parallelism

    if kmeans_rounds > 0:
        cents = ivf_kmeans_centroids(embeddings, n_cells, n_rounds=kmeans_rounds,
                                     id_col=id_col, vec_col=vec_col)
    else:
        cents = ivf_centroids(embeddings, n_cells, id_col, vec_col)
    e = (ensure_min_parallelism(embeddings)
         .select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("e_vec"))
         .withColumn("cell", ivf_cell_expr(F.col("e_vec"), cents)))
    q = F.broadcast(
        queries.select(F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
        .withColumn("cell", F.explode(ivf_probe_cells_expr(F.col("q_vec"), cents, nprobe))))
    cand = (e.join(q, "cell")
            .where(F.col("neighbor_id") != F.col("query_id"))
            .select("query_id", "neighbor_id", "q_vec", "e_vec"))
    scored = cand.withColumn("cosine_sim", cosine(F.col("q_vec"), F.col("e_vec")))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), "neighbor_id")
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "rank", "neighbor_id",
                    F.round("cosine_sim", 6).alias("cosine_sim")))


def _unit_normalize_small(vec: Column) -> Column:
    """vec / ||vec|| — deterministic (sequential-fold norm, per-element
    division), identical in the SQL twins.

    SMALL SIDES ONLY: the norm fold sits inside the transform lambda, so
    Catalyst re-evaluates it PER ELEMENT — O(dim²) per row (the documented
    nested-array recompute trap).  Fine for a broadcast query set; corpus
    columns must never use this — encode-side code avoids normalization
    entirely via the algebraic ‖c‖²·‖x‖ − 2·x·c form (pq_code_expr)."""
    n = norm(vec)
    return F.transform(_to_double(vec), lambda x: x / n)


def pq_codebooks(embeddings: DataFrame, m: int = 8, n_codes: int = 16,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 seeds: list[tuple[int, list[float]]] | None = None
                 ) -> list[list[list[float]]]:
    """Product-quantization codebooks over UNIT-NORMALIZED vectors: the
    embedding is split into m contiguous subspaces; subspace j's codebook is
    the n_codes lowest-id vectors' j-th (normalized) subvectors — the same
    deterministic seeding as ivf_centroids (refinement composes via the
    ivf_kmeans machinery per subspace, omitted so the SQL twin stays one
    assignment pass).  Normalizing makes the ADC reconstruction dot an
    approximate COSINE, the metric every other tier of the stack ranks by —
    without it, recall loss against the brute-force cosine ground truth
    would conflate quantization error with a plain metric mismatch.

    Returns codebooks[j][c] = centroid vector (len dim/m).  A dimension-table
    collect: m × n_codes × (dim/m) doubles.
    """
    if seeds is None:
        seeds = ivf_centroids(embeddings, n_codes, id_col, vec_col)
    if len(seeds) < n_codes:
        raise ValueError(f"need {n_codes} seed vectors, got {len(seeds)}")
    seeds = seeds[:n_codes]
    dim = _seed_dim(v for _, v in seeds)
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    sub = dim // m
    import math

    # Python's sequential sum + correctly-rounded sqrt/division reproduce the
    # engine-side unit_normalize fold bit-for-bit (same order, same IEEE ops),
    # so the inlined codebook literals equal the twin's SQL-derived values
    normed = []
    for _, v in seeds:
        nrm = math.sqrt(sum(x * x for x in v))
        normed.append([x / nrm for x in v])
    return [[v[j * sub:(j + 1) * sub] for v in normed] for j in range(m)]


def _dot_to_lit(sub: Column, const: list[float]) -> Column:
    """dot(DOUBLE subvector, literal centroid) — sequential fold,
    deterministic, co-expressible in SQL."""
    c = F.array(*[F.lit(float(x)) for x in const])
    return F.aggregate(F.zip_with(sub, c, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def pq_code_expr(vec: Column, codebook_j: list[list[float]], j: int, sub: int,
                 dim: int | None = None) -> Column:
    """Subspace j's code: nearest codeword to the UNIT-NORMALIZED vector's
    j-th subvector (ties → lowest code).  A pure projection — zero shuffle
    to encode.

    Computed WITHOUT materializing the normalized vector: for x_n = x/‖x‖,
    argmin_c ‖x_n[j] − c‖² = argmin_c (‖c‖²·‖x‖ − 2·x[j]·c) — ‖c‖² is a
    Python constant and x[j]·c a plain fold on the RAW vector, so the norm
    fold is referenced once per codeword (O(dim) each) instead of inside a
    transform lambda, where Catalyst would inline and recompute it PER
    ELEMENT (the O(dim²) nested-array trap).
    The SQL twin orders by the same expression with the same fold shapes, so
    codes match bit-for-bit.

    When ``dim`` is given, a vector of any other width raises at runtime
    instead of being silently NULL-padded into code 0 (the silent-truncation
    class the k-means dim fix eliminated)."""
    x = _to_double(vec)
    nrm = norm(vec)
    subvec = F.slice(x, j * sub + 1, sub)
    structs = []
    for c, cv in enumerate(codebook_j):
        c2 = sum(v * v for v in cv)  # ‖c‖², Python-exact like the SQL fold
        d = F.lit(float(c2)) * nrm - F.lit(2.0) * _dot_to_lit(subvec, cv)
        structs.append(F.struct(d.alias("d"), F.lit(c).alias("c")))
    code = F.array_min(F.array(*structs))["c"]
    if dim is None:
        return code
    return F.when(F.size(vec) == dim, code).otherwise(
        F.raise_error(F.concat(F.lit(f"pq encode: expected {dim}-dim vector, got "),
                               F.size(vec).cast("string"), F.lit(" dims"))))


def ivfpq_ann_topk(embeddings: DataFrame, queries: DataFrame, k: int = 10,
                   n_cells: int = 16, nprobe: int = 4, kmeans_rounds: int = 1,
                   m: int = 8, n_codes: int = 16,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   query_id_col: str = "query_id") -> DataFrame:
    """IVF-PQ ANN — the composition production vector stores actually run
    (FAISS's IVFPQ): the IVF coarse quantizer prunes WHICH vectors are
    scored (nprobe/n_cells of the corpus), PQ codes shrink WHAT is scanned
    per candidate (m bytes of codes, not dim floats), ADC LUTs make each
    scored pair O(m).

    Corpus pass: ONE projection computes the cell id (k-means-refined
    centroids inlined) and the m PQ codes — zero shuffle; at rest this is
    the (cell, codes) index a vector store persists.  Query pass: probe the
    nprobe nearest cells, equi-join on cell (AQE broadcasts the tiny probe
    side), score candidates via the per-query LUTs.  Fully deterministic →
    exact DuckDB twin.
    """
    from .skew import ensure_min_parallelism

    # ONE seed collect serves both quantizers (their default seeding is the
    # same lowest-id prefix — two separate ivf_centroids calls would run the
    # identical filter+collect job twice)
    base_seeds = ivf_centroids(embeddings, max(n_cells, n_codes), id_col, vec_col)
    cents = ivf_kmeans_centroids(embeddings, n_cells, n_rounds=kmeans_rounds,
                                 id_col=id_col, vec_col=vec_col, seeds=base_seeds)
    cbs = pq_codebooks(embeddings, m, n_codes, id_col, vec_col, seeds=base_seeds)
    sub = len(cbs[0][0])
    dim = m * sub
    e = ensure_min_parallelism(embeddings).select(
        F.col(id_col).alias("neighbor_id"),
        ivf_cell_expr(F.col(vec_col), cents).alias("cell"),
        *[pq_code_expr(F.col(vec_col), cbs[j], j, sub, dim=dim).alias(f"code_{j}")
          for j in range(m)])
    q = queries.select(F.col(query_id_col).alias("query_id"),
                       F.col(vec_col).alias("q_raw"),
                       _unit_normalize_small(F.col(vec_col)).alias("_qn"),
                       F.size(vec_col).alias("_qd"))
    for j in range(m):
        qsub = F.slice(F.col("_qn"), j * sub + 1, sub)
        q = q.withColumn(f"lut_{j}",
                         F.array(*[_dot_to_lit(qsub, cv) for cv in cbs[j]]))
    guard = F.when(F.col("_qd") == dim, F.lit(True)).otherwise(
        F.raise_error(F.concat(F.lit(f"ivfpq query: expected {dim}-dim vector, got "),
                               F.col("_qd").cast("string"), F.lit(" dims"))))
    q = F.broadcast(
        q.where(guard)
        .withColumn("cell", F.explode(ivf_probe_cells_expr(F.col("q_raw"), cents,
                                                           nprobe)))
        .drop("q_raw", "_qn", "_qd"))
    score = None
    for j in range(m):
        term = F.element_at(F.col(f"lut_{j}"), F.col(f"code_{j}") + 1)
        score = term if score is None else score + term
    cand = (e.join(q, "cell")
            .where(F.col("neighbor_id") != F.col("query_id"))
            .withColumn("pq_score", score))
    w = Window.partitionBy("query_id").orderBy(F.col("pq_score").desc(), "neighbor_id")
    return (cand.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "rank", "neighbor_id",
                    F.round("pq_score", 6).alias("pq_score")))


def semantic_dedup_pairs(embeddings: DataFrame, threshold: float = 0.5,
                         n_cells: int = 16, kmeans_rounds: int = 1,
                         id_col: str = "vec_id", vec_col: str = "embedding"
                         ) -> DataFrame:
    """Within-cell near-duplicate pairs — the candidate stage of
    semantic_dedup, exposed so its plan shape is independently testable:
    the self-join key IS the IVF cell id, so no cross-cell pair is ever
    generated and the join is a plain equi-join (never a cartesian)."""
    from .skew import ensure_min_parallelism

    cents = ivf_kmeans_centroids(embeddings, n_cells, n_rounds=kmeans_rounds,
                                 id_col=id_col, vec_col=vec_col)
    e = (ensure_min_parallelism(embeddings)
         .select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"))
         .withColumn("cell", ivf_cell_expr(F.col("vec"), cents)))
    a, b = e.alias("a"), e.alias("b")
    return (a.join(b, "cell")
            .where(F.col("a.vid") < F.col("b.vid"))
            .withColumn("cosine_sim", cosine(F.col("a.vec"), F.col("b.vec")))
            .where(F.col("cosine_sim") >= threshold)
            .select(F.col("a.vid").alias("vec_a"), F.col("b.vid").alias("vec_b")))


def semantic_dedup(embeddings: DataFrame, threshold: float = 0.5,
                   n_cells: int = 16, kmeans_rounds: int = 1,
                   id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023 shape):
    cluster the embedding space coarsely, find near-duplicate pairs ONLY
    within a cluster, connect them into duplicate families, keep one
    canonical member per family.

    Scale shape: (1) IVF cell assignment — k-means-refined centroids inlined
    as literals, zero corpus shuffle; (2) within-cell pair generation — the
    self-join key IS the cell id, so NO cross-cell pairs are ever generated
    (candidate count = Σ |cell|²/2, not n²/2; n_cells grows ∝ √n to hold
    cell sizes flat); (3) connected components over the thresholded pairs
    (pointer-doubling min-label, O(log diameter) rounds); (4) total keep-list:
    every vector labeled with its family's canonical (min) id, keep =
    (vec_id == cluster_id).  Fully deterministic → exact DuckDB twin
    (recursive-CTE closure).

    Returns (vec_id, cluster_id, keep) for EVERY input vector.
    """
    from .curation import connected_components

    pairs = semantic_dedup_pairs(embeddings, threshold=threshold, n_cells=n_cells,
                                 kmeans_rounds=kmeans_rounds,
                                 id_col=id_col, vec_col=vec_col)
    labels = connected_components(pairs, src="vec_a", dst="vec_b")
    out = (embeddings.select(F.col(id_col).alias("vec_id"))
           .join(labels.withColumnRenamed("doc_id", "vec_id"), "vec_id", "left")
           .select("vec_id",
                   F.coalesce("cluster_id", F.col("vec_id")).alias("cluster_id")))
    return out.withColumn("keep", F.col("vec_id") == F.col("cluster_id"))


