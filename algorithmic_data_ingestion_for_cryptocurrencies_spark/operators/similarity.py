"""Similarity search over embedding columns (``array<float>``) —
north-star operator family (BASELINE.json): brute-force cosine top-k
as the exact baseline, plus a random-hyperplane-LSH bucketed variant
as the scale path.

All vector math uses higher-order functions (``zip_with`` +
``aggregate``) — JVM-side, codegen'd, no Python per row.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..store import genfile

#: Measured crossover for the unrolled ``element_at`` expression tier
#: (tools/bench_unroll_dim.py, pairwise-scoring workload, min-of-3):
#: dim=4 the unrolled chain wins (0.40x the HOF tier); dim>=8 it LOSES
#: 8-10x — the generated whole-stage method (~3 element_at ops per
#: term across dot + two norms) blows past the JIT inlining /
#: huge-method limit and runs deoptimized, while the
#: interpreted-but-tight ArrayAggregate loop stays fast. The round-4
#: driver bench confirmed the same cliff end-to-end at dim=64
#: (sim_near_pairs 13.1s -> 41.6s). Above this threshold ``dim`` is
#: accepted as a routing/metadata hint but the HOF tier is used.
UNROLL_MAX_DIM = 4


def dot(a: Column | str, b: Column | str, *, dim: int | None = None) -> Column:
    """Dot product. ``dim`` (when given AND <= :data:`UNROLL_MAX_DIM`)
    unrolls to an ``element_at`` multiply-add chain — plain codegen'd
    expressions. Spark's higher-order functions
    (``zip_with``/``aggregate``) are CodegenFallback (each element
    evaluates through an interpreted lambda closure), but the HOF tier
    still WINS above tiny dims: the unrolled chain deoptimizes the
    whole generated stage (see :data:`UNROLL_MAX_DIM`). Both tiers are
    bit-identical: same left-to-right accumulation from 0.0, same
    float-multiply-then-double-cast per element.

    Invariant (unrolled tier only): ``dim`` must equal the exact array
    length — smaller truncates the sum silently, larger yields NULL
    elements under non-ANSI mode and a NULL score. The HOF tier always
    uses the full array; guarded by tests/test_similarity.py."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    if dim is not None and dim <= UNROLL_MAX_DIM:
        acc = F.lit(0.0)
        for i in range(1, dim + 1):
            acc = acc + (F.element_at(a, i) * F.element_at(b, i)).cast("double")
        return acc
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double"),
    )


def norm(a: Column | str, *, dim: int | None = None) -> Column:
    """L2 norm; same tiering and invariant as :func:`dot`."""
    a = F.col(a) if isinstance(a, str) else a
    if dim is not None and dim <= UNROLL_MAX_DIM:
        acc = F.lit(0.0)
        for i in range(1, dim + 1):
            x = F.element_at(a, i)
            acc = acc + (x * x).cast("double")
        return F.sqrt(acc)
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + (x * x).cast("double"))
    )


def cosine(a: Column | str, b: Column | str, *, dim: int | None = None) -> Column:
    return dot(a, b, dim=dim) / F.nullif(
        norm(a, dim=dim) * norm(b, dim=dim), F.lit(0.0)
    )


def cosine_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine against a literal query vector: one scan,
    one narrow projection, then a global top-k (``orderBy.limit`` —
    Spark executes it as per-partition top-k + driver merge of k·p
    rows, no full sort materialization). The query's length is passed
    as ``dim``, so the score takes the unrolled codegen tier exactly
    when it wins (dim <= UNROLL_MAX_DIM) and the HOF tier otherwise."""
    q = F.array(*[F.lit(float(x)) for x in query])
    scored = df.select(
        F.col(id_col), cosine(F.col(vec_col), q, dim=len(query)).alias("cosine")
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k)


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Brute-force k-NN join: broadcast the (small) query set against
    the corpus, rank per query. Exact; O(|Q|·|C|) scored pairs but
    never materializes beyond the ranked window. Norms are staged once
    per vector (not once per pair) — same doubles, 3x less work.
    ``dim`` engages the unrolled scoring tier only when it wins
    (dim <= UNROLL_MAX_DIM; above that the guard keeps the HOF tier —
    the r4 dim=64 unroll was a measured 3-5x regression)."""
    # r14 (guide §2.5 "one huge unsplittable file ... repartition
    # immediately after the read"): the O(|Q|·|C|) scoring runs at the
    # corpus SCAN's parallelism (the per-query window exchange comes
    # after it), and a single-row-group parquet corpus cannot split —
    # so a small file leaves all but one core idle for the whole pair
    # evaluation. Conditional: a corpus already at >= cluster
    # parallelism (any at-scale corpus) is untouched, so no shuffle is
    # ever added where the scan splits naturally. Scores are per-pair
    # expressions; placement cannot change values.
    # r15 (verdict #7 / advisor): the gate reads the OPTIMIZER's size
    # estimate instead of ``corpus.rdd.getNumPartitions()`` — the
    # ``.rdd`` probe forced a physical plan + RDD conversion at
    # DataFrame-build time on every call (and is unavailable under
    # Spark Connect); the stats probe is analysis-only and fails
    # closed (no repartition) where stats are unreachable.
    from ..plans.inspect import scan_is_effectively_serial

    try:
        par = corpus.sparkSession.sparkContext.defaultParallelism
    except Exception:
        par = 0
    if par > 1 and scan_is_effectively_serial(corpus, par):
        corpus = corpus.repartition(par)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        norm(F.col(vec_col), dim=dim).alias("__qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        norm(F.col(vec_col), dim=dim).alias("__cn"),
    )
    scored = F.broadcast(q).crossJoin(c).filter(
        F.col("query_id") != F.col("neighbor_id")
    ).select(
        "query_id",
        "neighbor_id",
        (dot("__qvec", "__cvec", dim=dim)
         / F.nullif(F.col("__qn") * F.col("__cn"), F.lit(0.0))).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (xorshift-free:
    a simple LCG keeps this dependency-free and reproducible)."""
    state = seed or 1
    planes = []
    for _ in range(n_planes):
        v = []
        for _ in range(dim):
            state = (6364136223846793005 * state + 1442695040888963407) % (1 << 64)
            # map to (-1, 1)
            v.append((state / float(1 << 64)) * 2.0 - 1.0)
        mag = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / mag for x in v])
    return planes


def with_lsh_bucket(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    dim: int,
    n_planes: int = 16,
    seed: int = 42,
    out: str = "lsh_bucket",
) -> DataFrame:
    """Random-hyperplane LSH: bucket id = sign-bit string of the
    vector against ``n_planes`` fixed hyperplanes. Vectors with high
    cosine land in the same bucket with probability
    ``(1 - θ/π)^n_planes``."""
    planes = _hyperplanes(dim, n_planes, seed)
    bits = [
        F.when(
            dot(F.col(vec_col), F.array(*[F.lit(x) for x in p]), dim=dim) >= 0,
            F.lit(1),
        )
        .otherwise(F.lit(0))
        for p in planes
    ]
    bucket = F.concat(*[b.cast("string") for b in bits])
    return df.withColumn(out, bucket)


def ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    n_planes: int = 12,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate k-NN: LSH-bucket both sides, equi-join on bucket
    (this is the scale path — the join only scores same-bucket pairs),
    then exact cosine rerank within candidates.

    Recall is tuned by two knobs: ``n_planes`` (fewer planes -> bigger
    buckets -> higher per-table recall) and ``n_tables`` — independent
    hash tables whose candidate sets union before the rerank (the
    standard multi-table LSH construction; misses decay exponentially
    in the table count). Each table is an equi-join on
    (table, bucket), never n²."""
    def bucketed(df: DataFrame, out_id: str, out_vec: str) -> DataFrame:
        parts = []
        for t in range(n_tables):
            b = with_lsh_bucket(
                df, vec_col=vec_col, dim=dim, n_planes=n_planes, seed=seed + 1000 * t
            )
            parts.append(
                b.select(
                    F.col(id_col).alias(out_id),
                    F.col(vec_col).alias(out_vec),
                    F.lit(t).alias("lsh_table"),
                    F.col("lsh_bucket"),
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    q = bucketed(queries, "query_id", "__qvec")
    c = bucketed(corpus, "neighbor_id", "__cvec")
    scored = (
        q.join(c, ["lsh_table", "lsh_bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "__qvec", "__cvec")
        .dropDuplicates(["query_id", "neighbor_id"])
        .select(
            "query_id",
            "neighbor_id",
            cosine("__qvec", "__cvec", dim=dim).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


#: Byte budget for *forcing* a broadcast build side in the near-pairs
#: tiers (r15, advisor fix): a few hundred MB broadcasts are routinely
#: fine (guide §3.1) while multi-GB ones risk driver/executor OOM and
#: the 8 GB broadcast-relation cap — past this budget the planner
#: keeps join-strategy choice (shuffled join, AQE-splittable).
BROADCAST_PIN_MAX_BYTES = 256 << 20


def _broadcast_fits(rows: int, dim: int | None) -> bool:
    """Estimated broadcast size of ``rows`` vector rows under the pin
    budget. Width = 8 bytes per vector element + ~64 bytes of row
    overhead (id, staged norm, array header). With ``dim`` unknown the
    width cannot be bounded, so the pin is only kept for row counts
    where even a 4k-wide embedding stays in budget."""
    width = (8 * dim + 64) if dim is not None else (8 * 4096 + 64)
    return rows * width <= BROADCAST_PIN_MAX_BYTES


def embedding_near_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    use_lsh: bool = False,
    dim: int | None = None,
    max_exact_vectors: int = 100_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cos >= t).
    Exact all-pairs by default (fine for bounded corpora / within
    groups); ``use_lsh`` switches candidate generation to bucketed.
    Norms are staged once per vector, not once per pair.

    The exact tier is CAP-GUARDED (r3 verdict): all-pairs is O(n²),
    and an unbounded corpus must never get the quadratic plan
    silently. Above ``max_exact_vectors`` the call counts-and-routes
    to the bucketed LSH tier (needs ``dim``; without it the call
    raises rather than going quadratic) — the same fail-over contract
    as :func:`embedding_near_pairs_arrow`."""
    if not use_lsh:
        n = df.count()
        if n > max_exact_vectors:
            if dim is None:
                raise ValueError(
                    f"corpus has {n} vectors > max_exact_vectors="
                    f"{max_exact_vectors}: refusing the O(n^2) all-pairs "
                    "plan; pass dim= to fail over to the LSH tier, raise "
                    "the cap explicitly, or call with use_lsh=True"
                )
            use_lsh = True
    a_src = df
    if not use_lsh:
        # r14 (guide §2.5/§1.2): the exact tier's parallelism is the
        # STREAM side's partition count of the nested-loop join — a
        # cap-bounded corpus is typically one parquet file, i.e. ONE
        # task evaluating all O(n²) pair scores while the rest of the
        # cluster idles (measured 12.5 s -> 1.0 s at sf0.1 on
        # local[32]). Round-robin repartition the probe side to full
        # parallelism; scores are per-pair expressions, so row
        # placement cannot change any value.
        par = df.sparkSession.sparkContext.defaultParallelism
        a_src = df.repartition(par)
    a = a_src.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("__va"),
        norm(F.col(vec_col), dim=dim).alias("__na"),
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("__vb"),
        norm(F.col(vec_col), dim=dim).alias("__nb"),
    )
    if use_lsh:
        if dim is None:
            raise ValueError("dim required for LSH candidate generation")
        al = with_lsh_bucket(a, vec_col="__va", dim=dim)
        bl = with_lsh_bucket(b, vec_col="__vb", dim=dim)
        pairs = al.join(bl, "lsh_bucket").filter(F.col("id_a") < F.col("id_b"))
    else:
        # pin the UNREPARTITIONED side as the broadcast build so the
        # repartitioned side stays the probe (same device as the
        # capped tier). r15 (advisor): the pin is BYTE-guarded, not
        # just row-guarded — n rows of a dim-wide vector frame can be
        # multiple GB when a caller raises max_exact_vectors for a
        # wide corpus, and a forced broadcast that big risks driver/
        # executor OOM where the planner could pick a shuffled join.
        # Past the budget the planner keeps strategy choice.
        if _broadcast_fits(n, dim):
            b = F.broadcast(b)
        pairs = a.crossJoin(b).filter(
            F.col("id_a") < F.col("id_b")
        )
    return (
        pairs.withColumn(
            "cosine",
            dot("__va", "__vb", dim=dim)
            / F.nullif(F.col("__na") * F.col("__nb"), F.lit(0.0)),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def embedding_near_pairs_capped(
    df: DataFrame,
    threshold: float = 0.95,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    n_planes: int = 4,
    cap: int = 200,
    seed: int = 42,
) -> DataFrame:
    """BUDGETED near-duplicate pairs: LSH-bucket the corpus (single
    table, so each vector lands in exactly one bucket and no pair is
    emitted twice), deterministically cap each bucket at ``cap``
    vectors (md5-ordered, :func:`..sampling.hash_top_n_per_group` —
    a uniform 'random' survivor set that is reproducible across
    engines), then exact within-bucket pairs.

    This is the scale grade for the near-pairs family: total scored
    pairs are bounded by ``2^n_planes * cap^2 / 2`` REGARDLESS of
    corpus size — at 100 TB the work per bucket is constant and the
    bucket count is a knob, where the exact tier is O(n²) and even
    plain LSH grows with the square of the bucket occupancy. The cost
    is recall: pairs beyond the per-bucket budget are not scored —
    the standard budget/recall trade of a capped near-dup sweep.
    Fully oracle-expressible (deterministic hyperplanes + md5 cap +
    sequential-accumulation cosine), unlike the multi-table ANN path.
    """
    b = with_lsh_bucket(
        df, vec_col=vec_col, dim=dim, n_planes=n_planes, seed=seed
    )
    from .sampling import hash_top_n_per_group

    capped = hash_top_n_per_group(
        b, id_col=id_col, group_cols=["lsh_bucket"], n=cap
    )
    # r14 optimization (guide §1.2 per-task work): stage each vector's
    # L2 norm ONCE below the self-join instead of recomputing both
    # norms inside the per-pair score — the HOF ``aggregate`` is
    # interpreted per element, so the per-candidate join work drops
    # from (dot + 2 norms) = 3·dim lambda steps to dot = 1·dim
    # (measured 4.0 s -> 1.6 s at sf0.1).  ``dot/nullif(na*nb)`` is the
    # exact expression :func:`cosine` expands to, evaluated on the
    # same staged operands, so scores are bit-identical.  The capped
    # frame is bounded (2^n_planes · cap rows) but its distinct-bucket
    # count caps join parallelism at 2^n_planes tasks; a round-robin
    # repartition of the probe side restores full-core parallelism at
    # a bounded-size shuffle cost.
    par = capped.sparkSession.sparkContext.defaultParallelism
    a = capped.repartition(par).select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("__va"),
        norm(F.col(vec_col)).alias("__na"),
        "lsh_bucket",
    )
    c = capped.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("__vb"),
        norm(F.col(vec_col)).alias("__nb"),
        "lsh_bucket",
    )
    if _broadcast_fits((1 << n_planes) * cap, dim):
        # pin the UNREPARTITIONED side as the broadcast build so the
        # repartitioned side stays the probe (the planner otherwise
        # broadcasts whichever side it fancies and the parallelism
        # repartition lands on the wrong one). Safe by the same budget
        # arithmetic that bounds the tier's work: the capped frame
        # never exceeds 2^n_planes * cap rows. r15 (advisor): the
        # guard is BYTE-sized — rows x vector width, dim is a required
        # param here — not row-counted: 800k rows of dim=768 vectors
        # are multiple GB, past which the planner keeps strategy
        # choice (shuffle join, AQE-splittable).
        c = F.broadcast(c)
    return (
        a.join(c, "lsh_bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            dot("__va", "__vb")
            / F.nullif(F.col("__na") * F.col("__nb"), F.lit(0.0)),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


#: Fixed-point scale for the PORTABLE Lloyd mean (PLANS.md rule V
#: extension): each float32 element is quantized to
#: ``FLOOR(x * 2^40)`` — exact double arithmetic, unambiguous floor —
#: and summed as DECIMAL(38,0). Integer/decimal addition is
#: ORDER-INDEPENDENT, so the parallel aggregation is reproducible
#: bit-for-bit in any engine (float summation is not: its rounding
#: depends on reduction order, which is why plain ``F.avg`` Lloyd has
#: no DuckDB twin). Headroom: the decimal sum overflows only past
#: ~10^38 / 2^40 ≈ 3e26 summed absolute mass — unreachable. The
#: 2^-40 input quantization (~1e-12 absolute) is noise relative to
#: float32's own 2^-24 mantissa.
PORTABLE_MEAN_SCALE = float(1 << 40)


def kmeans_centroids(
    df: DataFrame,
    k: int,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iterations: int = 3,
    mean: str = "float",
) -> DataFrame:
    """Deterministic Lloyd iterations, pure DataFrame ops: seeds are
    the k lowest-id vectors (deterministic), each iteration assigns
    points to the nearest centroid (map-only argmax expression,
    deterministic ties) and recomputes the mean. Exact k-means is not
    the goal — IVF only needs a stable coarse quantizer. Returns
    (centroid_id, centroid).

    ``mean="scaled_int"`` swaps the float mean for the
    order-independent fixed-point mean (:data:`PORTABLE_MEAN_SCALE`),
    making every Lloyd iteration — and therefore every downstream
    assignment, probe, and rerank — reproducible in DuckDB. Verified
    bit-exact over 3 iterations in the registry gate; empty clusters
    drop identically in both engines (GROUP BY emits no row).
    """
    spark = df.sparkSession
    seed_rows = [
        (i, r[0])
        for i, r in enumerate(
            df.orderBy(F.col(id_col)).limit(k).select(vec_col).collect()
        )
    ]
    schema = "centroid_id int, centroid array<float>"
    if not seed_rows:  # empty input: empty, correctly-typed quantizer
        return spark.createDataFrame([], schema)
    dims = len(seed_rows[0][1])

    def _mean_elem(i: int) -> Column:
        if mean == "float":
            return F.avg(F.element_at(F.col(vec_col), i + 1))
        scale = F.lit(PORTABLE_MEAN_SCALE)
        q = F.floor(
            F.element_at(F.col(vec_col), i + 1).cast("double") * scale
        ).cast("decimal(38,0)")
        return (F.sum(q).cast("double") / F.count(F.lit(1))) / scale

    rows = [(int(cid), list(v)) for cid, v in seed_rows]
    for _ in range(iterations):
        # map-only assignment (r11, small-k tier via the tiered
        # helper): no crossJoin expansion, no groupBy(id, vec)
        # shuffle; each Lloyd step is one light exchange on
        # centroid_id (k groups, map-side combined). id_col rides
        # along so the large-k join tier's groupBy keeps duplicate
        # vectors at their true multiplicity in the mean.
        assigned = _assigned_frame(
            df.select(F.col(id_col), F.col(vec_col)),
            spark.createDataFrame(rows, schema), rows,
            vec_col=vec_col, dim=dims,
        # NULL/malformed vectors assign to NULL (the r12 dirty-input
        # contract) and are EXCLUDED from the means — they carry no
        # usable coordinates; without this filter the NULL group would
        # crash the int() below on the first dirty corpus
        ).filter(F.col("centroid_id").isNotNull())
        new = assigned.groupBy("centroid_id").agg(
            F.array(
                *[_mean_elem(i).alias(f"c{i}") for i in range(dims)]
            ).cast("array<float>").alias("centroid")
        )
        # materialize between iterations: k rows collected to literals
        # keeps each Lloyd step a SHALLOW plan instead of nesting the
        # previous iterations' joins (k is tiny by construction — the
        # coarse quantizer has dozens of centroids, not millions)
        rows = [(int(r["centroid_id"]), list(r["centroid"])) for r in new.collect()]
    return spark.createDataFrame(rows, schema)


def hash_centroids(
    df: DataFrame,
    k: int,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Portable coarse quantizer (PLANS.md rule V): the centroids are
    the ``k`` corpus vectors with the smallest ``(md5-prefix, id)``
    sort key — order statistics of a uniform hash, so the seeds are a
    uniform corpus sample any engine reproduces from the same rows
    (lowercase hex compares lexicographically == numerically, the
    ``sampling._hash_hex8`` invariant). ``centroid_id`` is the rank in
    that order.

    Unlike :func:`kmeans_centroids` there is NO averaging step: every
    centroid is a verbatim float32 corpus vector, so the assignment
    argmax downstream compares dot products that are bit-identical
    across engines (the ``_cos_sql`` float-multiply contract). This is
    the CHEAP quantizer (no Lloyd jobs at all); the registry rows use
    ``quantizer="portable"`` instead — fixed-point-mean Lloyd, which
    is equally engine-reproducible AND keeps k-means recall (this
    sampler measured 0.73@nprobe=8 vs Lloyd's 0.96 on the
    uniform-sphere testdata; floor pytest-pinned). k-means stays the
    library default quantizer.

    The seed selection is a distributed ``orderBy().limit(k)``
    (per-partition top-k + driver merge); the rank window then runs on
    the k-row result, so the unpartitioned window is bounded by
    ``k``, never the corpus.
    """
    from .sampling import _hash_hex8

    h = _hash_hex8(id_col)
    seeds = (
        df.select(
            h.alias("__h"), F.col(id_col).alias("__sid"),
            F.col(vec_col).alias("centroid"),
        )
        .orderBy("__h", "__sid")
        .limit(k)
    )
    w = Window.orderBy("__h", "__sid")  # k rows by construction
    return seeds.select(
        (F.row_number().over(w) - 1).cast("int").alias("centroid_id"),
        "centroid",
    )


def _centroids(
    df: DataFrame,
    k: int,
    *,
    vec_col: str,
    id_col: str,
    iterations: int,
    quantizer: str,
) -> DataFrame:
    if quantizer == "hash":
        return hash_centroids(df, k, vec_col=vec_col, id_col=id_col)
    if quantizer == "kmeans":
        return kmeans_centroids(
            df, k, vec_col=vec_col, id_col=id_col, iterations=iterations
        )
    if quantizer == "portable":
        # the library quantizer with an ORDER-INDEPENDENT fixed-point
        # mean (rule V): same seeds, same iterations, recall measured
        # identical (the means differ by <= 2^-40 per element), but
        # every Lloyd step now has a bit-exact DuckDB twin
        return kmeans_centroids(
            df, k, vec_col=vec_col, id_col=id_col, iterations=iterations,
            mean="scaled_int",
        )
    raise ValueError(f"unknown quantizer {quantizer!r} (kmeans|portable|hash)")


def _cent_rows(cents: DataFrame) -> list[tuple[int, list[float]]]:
    """Collect a quantizer frame to ``[(centroid_id, vector)]`` —
    bounded by ``n_centroids`` (the same bound the IVF probe-set
    collect already carries); the rows feed the MAP-ONLY assignment
    expressions below."""
    return [
        (int(r["centroid_id"]), list(r["centroid"]))
        for r in cents.collect()
    ]


def _cent_lit(vec: list[float]) -> Column:
    """Centroid literal: double literals cast back to array<float>
    round-trip the stored float32 exactly, so ``dot(column, literal)``
    multiplies the identical FLOATs as the column-vs-column form (and
    as the oracle's table-vs-table form)."""
    return F.array(*[F.lit(float(x)) for x in vec]).cast("array<float>")


def _assign_expr(
    vec_col: str, cents: list[tuple[int, list[float]]], *, dim: int | None = None
) -> Column:
    """Map-only nearest-centroid assignment (r11): ``greatest()`` over
    one ``(dot, -centroid_id)`` struct per centroid — max dot first,
    ties to the LOWEST centroid_id (the negation makes the struct
    compare agree with the oracles' ``ORDER BY d DESC, centroid_id``
    row_number, so assignment is reproducible even on exact float
    ties), with NO crossJoin row expansion and NO groupBy shuffle.
    Replaces the former
    ``crossJoin(broadcast) → groupBy(id, vec) → max_by`` shape, which
    shuffled the full corpus once per assignment; at 100 TB the
    assignment is now embarrassingly parallel and the only exchange
    left in an IVF build is the partitioned write itself."""
    structs = [
        F.struct(
            dot(F.col(vec_col), _cent_lit(v), dim=dim).alias("d"),
            F.lit(-cid).alias("nc"),
        )
        for cid, v in cents
    ]
    best = structs[0] if len(structs) == 1 else F.greatest(*structs)
    # NULL/malformed vector => every dot is NULL (the centroids are
    # literals, so null-ness depends only on the row's vector) => the
    # struct compare would otherwise fall through to the id tiebreak
    # and silently assign centroid 0 (r11 advisor). Yield NULL instead,
    # matching the broadcast tier's explicit null-out. The gate probes
    # ONE dot (against the first centroid — null-ness is centroid-
    # independent), not best["d"]: the k-dot greatest() is
    # CodegenFallback at HOF dims, where a second reference risks
    # re-evaluating all k dots per row.
    null_vec = dot(F.col(vec_col), _cent_lit(cents[0][1]), dim=dim).isNull()
    return F.when(null_vec, F.lit(None)).otherwise(-best["nc"]).cast("int")


def _probe_expr(
    vec_col: str,
    cents: list[tuple[int, list[float]]],
    nprobe: int,
    *,
    dim: int | None = None,
) -> Column:
    """Map-only probe-list selection: the ``nprobe`` nearest centroid
    ids as an array, ordered (dot DESC, centroid_id) exactly like the
    former crossJoin + row_number window — ``array_sort`` on
    ``(-dot, centroid_id)`` structs needs no exchange at all."""
    arr = F.array(*[
        F.struct(
            (-dot(F.col(vec_col), _cent_lit(v), dim=dim)).alias("nd"),
            F.lit(cid).alias("cid"),
        )
        for cid, v in cents
    ])
    ranked = F.slice(F.array_sort(arr), 1, nprobe)
    probes = F.transform(ranked, lambda s: s["cid"])
    # NULL/malformed query vector: every nd is NULL and the sort would
    # fall through to centroid-id order, silently probing the lowest
    # nprobe lists. Yield NULL (a null query matches nothing) — same
    # dirty-input contract as _assign_expr; gate on ONE dot, not the
    # sorted array, to avoid re-evaluating the k-dot array under
    # CodegenFallback (r12 review).
    null_vec = dot(F.col(vec_col), _cent_lit(cents[0][1]), dim=dim).isNull()
    return F.when(null_vec, F.lit(None)).otherwise(probes)


#: Above this centroid count the per-centroid literal expressions
#: (_assign_expr / _probe_expr) stop being a good idea — the plan
#: grows linearly in k (measured fine through k=128; a web-scale
#: SemDeDup runs ~100k clusters) — so the tiered helpers below fall
#: back to the broadcast-join shape, which handles any k at the cost
#: of one corpus shuffle. Same argmax, same (dot DESC, centroid_id)
#: tie order in both tiers.
ASSIGN_EXPR_MAX_CENTROIDS = 64


def _assigned_frame(
    df: DataFrame,
    cents: DataFrame,
    crows: list[tuple[int, list[float]]],
    *,
    vec_col: str,
    out: str = "centroid_id",
    dim: int | None = None,
) -> DataFrame:
    """Nearest-centroid assignment, tiered on centroid count: the
    map-only greatest() expression up to
    :data:`ASSIGN_EXPR_MAX_CENTROIDS` (zero exchanges), else the
    broadcast crossJoin + deterministic max_by (one map-side-combined
    corpus shuffle — the shape a 100k-cluster SemDeDup needs; the
    literal-expression plan would grow linearly in k). Both tiers
    compute the identical argmax with the identical (dot DESC,
    centroid_id) tie order. Returns ``df``'s columns plus ``out``;
    ``df`` must not already carry ``centroid_id``/``__d``."""
    if not crows:  # empty quantizer (empty corpus): typed placeholder
        return df.select(
            *df.columns, F.lit(0).cast("int").alias(out)
        )
    if len(crows) <= ASSIGN_EXPR_MAX_CENTROIDS:
        return df.select(
            *df.columns, _assign_expr(vec_col, crows, dim=dim).alias(out)
        )
    key = F.struct(F.col("__d"), (-F.col("centroid_id")).alias("__nc"))
    # max(__d) is NULL iff the row's vector is NULL/malformed (every
    # dot NULL); null the assignment out explicitly so both tiers agree
    # on dirty input instead of the struct tiebreak electing centroid 0
    # (r11 advisor finding, similarity.py _assign_expr).
    agged = (
        df.crossJoin(F.broadcast(cents))
        .withColumn("__d", dot(F.col(vec_col), F.col("centroid"), dim=dim))
        .groupBy(*df.columns)
        .agg(
            F.max_by("centroid_id", key).alias(out),
            F.max("__d").alias("__dmax"),
        )
    )
    return agged.select(
        *df.columns,
        F.when(F.col("__dmax").isNull(), F.lit(None))
        .otherwise(F.col(out))
        .cast("int")
        .alias(out),
    )


def _probed_frame(
    q: DataFrame,
    cents: DataFrame,
    crows: list[tuple[int, list[float]]],
    nprobe: int,
    *,
    dim: int | None = None,
) -> DataFrame:
    """Top-``nprobe`` probe lists per query, tiered like
    :func:`_assigned_frame`: map-only array_sort expression for small
    k, broadcast crossJoin + row_number window for large k — identical
    (dot DESC, centroid_id) order in both. ``q`` carries
    ``(query_id, __qvec)``; returns those plus ``centroid_id``."""
    if len(crows) <= ASSIGN_EXPR_MAX_CENTROIDS:
        return q.select(
            "query_id", "__qvec",
            F.explode(_probe_expr("__qvec", crows, nprobe, dim=dim)).alias(
                "centroid_id"
            ),
        )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__d").desc(), F.col("centroid_id")
    )
    return (
        q.crossJoin(F.broadcast(cents))
        .withColumn("__d", dot(F.col("__qvec"), F.col("centroid"), dim=dim))
        # NULL/malformed query vector: drop before ranking, so the
        # query probes nothing — identical to the expr tier's NULL
        # probe array whose explode() drops the row (r12 review: the
        # desc-nulls-last window would otherwise rank NULL dots 1..k
        # and probe the nprobe lowest centroid ids)
        .filter(F.col("__d").isNotNull())
        .withColumn("__pr", F.row_number().over(w))
        .filter(F.col("__pr") <= nprobe)
        .select("query_id", "__qvec", "centroid_id")
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    nprobe: int = 4,
    dim: int | None = None,
    quantizer: str = "kmeans",
    iterations: int = 3,
) -> DataFrame:
    """IVF approximate k-NN — the inverted-file scale path (the other
    standard construction next to LSH): corpus vectors are listed
    under their nearest coarse centroid; each query probes only the
    ``nprobe`` nearest lists and reranks exactly. The expensive join
    touches ~``nprobe/n_centroids`` of the corpus, and every stage is
    an equi-join on centroid_id — never n².

    ``quantizer="portable"`` (what the registry rows run, PLANS.md
    rule V/W) keeps the Lloyd k-means but with the fixed-point mean,
    making every downstream value DuckDB-reproducible at unchanged
    recall; ``"hash"`` is the cheap no-Lloyd seed-sample quantizer.
    """
    cents = _centroids(
        corpus, n_centroids, vec_col=vec_col, id_col=id_col,
        iterations=iterations, quantizer=quantizer,
    )
    crows = _cent_rows(cents)
    if not crows:  # empty corpus: empty, correctly-typed result
        return queries.limit(0).select(
            F.col(id_col).alias("query_id"),
            F.col(id_col).alias("neighbor_id"),
            F.lit(0.0).alias("cosine"),
            F.lit(0).alias("rank"),
        )

    # both assignment and probe selection are MAP-ONLY expressions
    # over the collected centroids (r11, small-k tier) — the only
    # shuffle left in the whole query is the equi-join on centroid_id
    # + the rerank; above ASSIGN_EXPR_MAX_CENTROIDS the tiered helpers
    # switch to the broadcast-join shape
    corpus_l = _assigned_frame(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("__cvec"),
        ),
        cents, crows, vec_col="__cvec", dim=dim,
    )
    query_probes = _probed_frame(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("__qvec"),
        ),
        cents, crows, nprobe, dim=dim,
    )
    scored = (
        query_probes.join(corpus_l, "centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id",
            cosine("__qvec", "__cvec", dim=dim).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def embedding_near_pairs_arrow(
    df: DataFrame,
    threshold: float = 0.95,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_broadcast_vectors: int = 1_000_000,
    dim: int | None = None,
) -> DataFrame:
    """Dense-block near-pair tier: the corpus (normalized, float32) is
    broadcast to every executor and each Arrow batch of rows computes
    a blocked matrix product against it (NumPy BLAS) — roughly an
    order of magnitude faster than the per-pair expression tier for
    bounded corpora. Scores differ from the expression tier only by
    float-summation order, so pairs within ~1e-6 of the threshold may
    differ — use the exact tier when the boundary matters.

    The driver-side collect is CAP-GUARDED: a corpus larger than
    ``max_broadcast_vectors`` (~1 GB at 256-d float32 for the default
    1e6) fails over to the bucketed-LSH candidate tier
    (:func:`embedding_near_pairs` with ``use_lsh=True``, which needs
    ``dim``; without ``dim`` the call raises instead of silently
    collecting an unbounded corpus onto the driver)."""
    import numpy as np

    n = df.count()
    if n > max_broadcast_vectors:
        if dim is None:
            raise ValueError(
                f"corpus has {n} vectors > max_broadcast_vectors="
                f"{max_broadcast_vectors}; pass dim= to fail over to the "
                "LSH candidate tier, or use embedding_near_pairs/IVF directly"
            )
        return embedding_near_pairs(
            df, threshold, id_col=id_col, vec_col=vec_col, use_lsh=True, dim=dim
        )
    rows = df.select(id_col, vec_col).collect()
    ids = np.array([r[id_col] for r in rows], dtype=np.int64)
    mat = np.array([r[vec_col] for r in rows], dtype=np.float32)
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    unit = mat / norms
    spark = df.sparkSession
    b_ids = spark.sparkContext.broadcast(ids)
    b_unit = spark.sparkContext.broadcast(unit)
    thr = float(threshold)

    def block(batches):
        import pandas as pd

        for pdf in batches:
            a = np.stack(pdf[vec_col].to_numpy()).astype(np.float32)
            an = np.linalg.norm(a, axis=1, keepdims=True)
            an[an == 0] = 1.0
            sims = (a / an) @ b_unit.value.T
            aid = pdf[id_col].to_numpy()
            # r14 (guide §4.2 — vectorize inside the UDF): hit
            # extraction was a per-row/per-hit Python double loop;
            # one np.where over the block + a vectorized id mask
            # selects the same cells (scores untouched)
            ii, jj = np.where(sims >= thr)
            keep = aid[ii] < b_ids.value[jj]
            ii, jj = ii[keep], jj[keep]
            yield pd.DataFrame(
                {
                    "id_a": aid[ii],
                    "id_b": b_ids.value[jj],
                    "cosine": sims[ii, jj].astype(np.float64),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(
        block, schema="id_a long, id_b long, cosine double"
    )


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    iterations: int = 3,
    quantizer: str = "kmeans",
) -> None:
    """Persist an IVF index as a lake layout: ``<path>/centroids``
    (tiny) plus ``<path>/lists`` PARTITIONED BY centroid_id — the
    inverted lists ARE parquet partitions, so querying nprobe lists is
    plain partition pruning (the scan touches ~nprobe/n_centroids of
    the corpus bytes; plan-asserted in tests). This is the storage
    twin of :func:`ivf_topk`: build once over 100 TB, serve many
    queries without rescanning or re-clustering.

    ``quantizer="hash"`` builds over :func:`hash_centroids` instead of
    k-means — every served value is then DuckDB-reproducible (the
    persisted centroids are verbatim float32 corpus vectors, so probe
    and assignment dots match the oracle bit-for-bit)."""
    cents = _centroids(
        corpus, n_centroids, vec_col=vec_col, id_col=id_col,
        iterations=iterations, quantizer=quantizer,
    )
    crows = _cent_rows(cents)
    # map-only assignment (r11, small-k tier): the build's only
    # exchange is the partitioned write itself
    assigned = _assigned_frame(
        corpus.select(F.col(id_col), F.col(vec_col)),
        cents, crows, vec_col=vec_col,
    )
    # a REBUILD over a previously-compacted index resets the
    # generation state FIRST (r10 review fix): deleting the stale
    # pointer before any write means a crash mid-rebuild leaves
    # readers failing loudly on the half-built gen-0 layout instead of
    # silently serving the OLD generation's vectors against the NEW
    # centroids. Rebuild is an offline op; rerun it after a crash.
    spark = corpus.sparkSession
    fs, hpath = _ivf_fs(spark, path)
    base = path.rstrip("/")
    if fs.exists(hpath(base)):
        for st in fs.listStatus(hpath(base)):
            name = st.getPath().getName()
            if st.isFile() and name.startswith(_IVF_PTR_PREFIX + ".g"):
                fs.delete(st.getPath(), False)
            elif st.isDirectory() and name.startswith("lists_g"):
                fs.delete(st.getPath(), True)
    cents.write.mode("overwrite").parquet(base + "/centroids")
    (
        assigned.withColumn("__batch_seq", F.lit(0).cast("bigint"))
        .withColumn("__batch_id", F.lit("__build"))
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(base + "/lists")
    )
    # seed the upsert manifest (see ivf_index_upsert): the build is
    # generation 0, so the first incremental batch sequences after it
    corpus.sparkSession.createDataFrame(
        [("__build", 0)], "batch_id string, seq bigint"
    ).write.mode("overwrite").parquet(base + "/batches")


def ivf_index_topk(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 4,
) -> DataFrame:
    """Query a persisted IVF index: probe-list selection is a
    MAP-ONLY expression over the collected centroids (bounded by
    ``n_centroids``), and the list scan carries an
    ``isin(probed_lists)`` partition filter — Spark prunes every
    unprobed inverted list at planning time, which is the entire point
    of the layout. Exact rerank within the probed lists.

    Driver round-trip (r10 note): the probe frame is checkpointed once
    and only its DISTINCT centroid ids are collected — bounded by
    ``n_centroids``, O(1) in the query-batch size — so the filter is a
    LITERAL the planner can prune partitions with (a join would scan
    everything), and the probe assignment is computed once, not once
    for the collect and again in the serve join. A single union read
    over all probed lists beats per-probe-signature reads: the
    equi-join on ``centroid_id`` already restricts every query to its
    own probed lists, and a list probed by two signature groups is
    scanned once instead of twice."""
    cents = spark.read.parquet(path.rstrip("/") + "/centroids")
    crows = _cent_rows(cents)
    if not crows:  # index built over an empty corpus
        return queries.limit(0).select(
            F.col(id_col).alias("query_id"),
            F.col(id_col).alias("neighbor_id"),
            F.lit(0.0).alias("cosine"),
            F.lit(0).alias("rank"),
        )
    lists_dir, folded_seq = _ivf_lists_path(spark, path)
    probes = (
        # map-only probe selection (r11, small-k tier): array_sort
        # over per-centroid (−dot, id) structs replaces the former
        # crossJoin + row_number window — zero exchanges; large-k
        # indexes fall back to the join shape inside the helper
        _probed_frame(
            queries.select(
                F.col(id_col).alias("query_id"),
                F.col(vec_col).alias("__qvec"),
            ),
            cents, crows, nprobe,
        )
        # materialize once: the distinct-collect below and the serve
        # join both read the checkpointed probe rows (n_queries*nprobe,
        # bounded) instead of re-running the queries-side plan twice.
        # Lifecycle: localCheckpoint blocks (unlike persist()) are
        # ContextCleaner-managed — they live exactly as long as the
        # returned result frame is reachable and are reclaimed when
        # the caller drops it; a long-lived server should not hold old
        # result frames (and may sweep with clear_persisted_blocks)
        .localCheckpoint(eager=True)
    )
    probed_lists = sorted(
        {r["centroid_id"] for r in probes.select("centroid_id").distinct().collect()}
    )
    lists = spark.read.parquet(lists_dir).filter(
        F.col("centroid_id").isin(probed_lists)
    )
    if "__batch_seq" in lists.columns:
        # exactly-once read discipline (r10 review fix, hardened r11):
        # rows from an in-flight/crashed upsert (lists are written
        # before the manifest commit marker) are orphans — invisible
        # until their batch commits (:func:`_ivf_visible`; membership
        # on (batch_id, seq), not max-seq, so a later batch committing
        # at a colliding seq cannot resurrect them). The replay
        # re-appends identical rows and commits, at which point they
        # become visible. Then last-writer-wins over the probed lists:
        # a re-upserted id must serve its latest vector; the collapse
        # runs only when COMMITTED seqs exist beyond the generation's
        # folded_through_seq (fresh build or just-compacted index:
        # aggregate-free serve path — safe because orphans are already
        # filtered, so every visible id is single-version).
        _seen, next_seq, pairs = _ivf_batches(spark, path)
        committed_max = next_seq - 1
        lists = _ivf_visible(
            spark, lists, pairs=pairs,
            folded_seq=folded_seq, committed_max=committed_max,
        )
        if committed_max > folded_seq:
            lists = (
                lists.groupBy(F.col(id_col))
                .agg(
                    F.max_by(
                        F.struct(F.col(vec_col), F.col("centroid_id")),
                        _ivf_lww_key(lists),
                    ).alias("__l")
                )
                .select(
                    id_col,
                    F.col(f"__l.{vec_col}").alias(vec_col),
                    F.col("__l.centroid_id").alias("centroid_id"),
                )
            )
    scored = (
        probes.join(
            lists.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(vec_col).alias("__cvec"),
                "centroid_id",
            ),
            "centroid_id",
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id",
            cosine("__qvec", "__cvec").alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


#: generation-pointer prefix: ``_ivf_lists.g{N}.json`` in the index
#: root names the committed lists directory (``lists`` for generation
#: 0, ``lists_g{N}`` after the Nth compaction) — the
#: :class:`..store.rollup.RollupStore` manifest pattern, which closes
#: the r9 local crash window (the old two-rename swap could crash
#: between renames and leave NO lists directory) and is object-store
#: safe (no directory rename anywhere; the pointer write is one small
#: file rename, and readers resolve the max generation so a torn or
#: missing pointer falls back to the previous committed one).
_IVF_PTR_PREFIX = "_ivf_lists"


def _ivf_fs(spark, path: str):
    return genfile.hadoop_fs(spark, path)


def _ivf_pointer(spark, path: str) -> dict:
    """Committed generation = the highest-generation parseable pointer
    file (:mod:`..store.genfile` protocol, shared with the rollup
    store since r11); no pointer at all = generation 0 (``lists``,
    nothing folded). Torn writes resolve to the previous generation —
    never to a missing directory; present-but-unparseable pointers
    with no parseable sibling raise (r10 review) instead of pointing
    readers at a lists dir a compaction already swept."""
    return genfile.read_committed(
        spark, path, _IVF_PTR_PREFIX,
        default={"generation": 0, "folded_through_seq": 0},
        store_desc="IVF index",
    )


def _ivf_lists_path(spark, path: str) -> tuple[str, int]:
    """(current committed lists directory, highest folded seq)."""
    meta = _ivf_pointer(spark, path)
    gen = meta["generation"]
    base = path.rstrip("/")
    lists = base + ("/lists" if gen == 0 else f"/lists_g{gen}")
    return lists, int(meta.get("folded_through_seq", 0))


def _ivf_write_pointer(spark, path: str, meta: dict) -> None:
    """Commit = atomic rename of a tmp file onto the NEW
    generation-suffixed pointer name; superseded pointers are swept
    only after the new one exists, and a false-returning rename fails
    loudly (:func:`..store.genfile.commit_generation` — rename
    atomicity is filesystem-level; object stores need a conditional
    put, same caveat as the rollup store)."""
    genfile.commit_generation(
        spark, path, _IVF_PTR_PREFIX, meta, store_desc="IVF index",
    )


def _ivf_batches(spark, path: str) -> tuple[set, int, list]:
    """(seen batch_ids, next sequence, committed (batch_id, seq)
    pairs) from the tiny append-only manifest dir ``<index>/batches``
    — one row per committed append, the
    :class:`..store.rollup.RollupStore` idempotence pattern. Only a
    MISSING path reads as a fresh index (structured error class
    first, the r8 ADVICE discipline); any other failure propagates."""
    from ..sources.lake import read_parquet_or_empty

    rows = read_parquet_or_empty(
        spark, path.rstrip("/") + "/batches", "batch_id string, seq bigint"
    ).collect()
    return (
        {r["batch_id"] for r in rows},
        max((r["seq"] for r in rows), default=0) + 1,
        sorted({(r["batch_id"], r["seq"]) for r in rows}),
    )


def _ivf_visible(spark, lists: DataFrame, *, pairs: list,
                 folded_seq: int, committed_max: int) -> DataFrame:
    """Committed-visible rows of an inverted-lists scan.

    r11 advisor fix: visibility used to be ``__batch_seq <=
    committed_max``, but seq numbers are allocated as
    manifest-max + 1 — so a crashed upsert's orphan rows at seq S
    became visible (resurrected) the moment any DIFFERENT later batch
    committed at the same S, with nondeterministic LWW ties between
    the orphan and the committed row. Visibility is now MEMBERSHIP:
    a row is visible iff it predates the fold horizon
    (``__batch_seq <= folded_seq`` — compaction output) or its
    ``(__batch_id, __batch_seq)`` pair appears in the committed
    manifest (broadcast left join against the tiny manifest frame —
    bounded by upserts-since-compaction, never corpus-sized). An
    orphan's pair is never committed under its own seq (a replay
    re-allocates past the colliding batch), so it stays invisible
    forever and is dropped for good by the next compaction's fold.

    Legacy lists without ``__batch_id`` keep the old max-seq gate
    (documented weaker; one compaction migrates them)."""
    if "__batch_seq" not in lists.columns:
        return lists
    if "__batch_id" not in lists.columns:
        return lists.filter(F.col("__batch_seq") <= committed_max)
    marker = spark.createDataFrame(
        [(b, s) for b, s in pairs], "__batch_id string, __batch_seq bigint"
    ).withColumn("__committed", F.lit(True))
    return (
        lists.join(F.broadcast(marker), ["__batch_id", "__batch_seq"], "left")
        .filter(
            (F.col("__batch_seq") <= F.lit(folded_seq))
            | F.col("__committed").isNotNull()
        )
        .drop("__committed")
    )


def _ivf_lww_key(lists: DataFrame):
    """Last-writer-wins ordering key: ``(__batch_seq, __batch_id)``.
    Sequential (serialized) upserts never share a committed seq, but
    two CONCURRENT committed writers can both allocate manifest-max+1
    (r11 review finding) — the batch_id tiebreak makes the collapse
    DETERMINISTIC in that case (lexicographically-last batch_id wins,
    a stable arbitrary choice, not time order; serialize writers if
    time order matters). Legacy lists without ``__batch_id`` fall back
    to seq alone."""
    if "__batch_id" in lists.columns:
        return F.struct(F.col("__batch_seq"), F.col("__batch_id"))
    return F.col("__batch_seq")


def ivf_index_upsert(
    spark,
    path: str,
    vectors: DataFrame,
    *,
    batch_id: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> bool:
    """Incrementally ingest ``vectors`` into a persisted IVF index
    (the serving-path maintenance op: an embedding pipeline appends
    new/updated vectors continuously; rebuilding the quantizer per
    batch would rescan the corpus). New vectors are assigned against
    the FROZEN centroids (standard IVF practice — the coarse quantizer
    is only refreshed by a full rebuild) and APPENDED to the
    partitioned inverted lists, so an upsert touches only the new
    rows' bytes. Returns True if the batch was applied, False for a
    replayed ``batch_id`` (exactly-once via the batches manifest;
    lists are written FIRST, the manifest row is the commit marker —
    a crash between the two replays cleanly: the crashed attempt's
    rows are orphans the read path never serves, because visibility
    is MEMBERSHIP of the row's ``(batch_id, seq)`` pair in the
    committed manifest (:func:`_ivf_visible`, r11). The replay
    allocates a fresh seq past whatever committed meanwhile — if
    nothing did, it re-appends at the same seq and the identical
    duplicate rows collapse in the LWW read — and the orphans are
    dropped for good at the next compaction's fold).

    Consistency: a RE-upserted id supersedes its old version at read
    time (max ``__batch_seq``) within the probed lists; an update that
    MOVES a vector to a different list is fully reconciled only by
    :func:`compact_ivf_index` — eventual consistency, the standard
    ANN-serving trade."""
    seen, seq, _pairs = _ivf_batches(spark, path)
    if batch_id in seen:
        return False
    lists_dir, _folded = _ivf_lists_path(spark, path)
    existing = spark.read.parquet(lists_dir)
    if "__batch_seq" not in existing.columns:
        # a pre-versioning index: appending versioned rows would mix
        # parquet schemas and make the LWW read flaky — fail loudly
        raise ValueError(
            "IVF index at %r predates upsert support (lists lack "
            "__batch_seq) — rebuild it with build_ivf_index first"
            % path
        )
    if "__batch_id" not in existing.columns:
        # r11 visibility protocol: rows must carry their batch_id so
        # the read path can gate on manifest MEMBERSHIP (orphan-seq
        # collision fix). One compaction migrates an r10-layout index.
        raise ValueError(
            "IVF index at %r predates batch-id visibility (lists lack "
            "__batch_id) — run compact_ivf_index once to migrate it"
            % path
        )
    cents = spark.read.parquet(path.rstrip("/") + "/centroids")
    crows = _cent_rows(cents)
    # map-only frozen-centroid assignment (r11, small-k tier): the
    # upsert's only exchange is the partitioned append itself
    assigned = (
        _assigned_frame(
            vectors.select(F.col(id_col), F.col(vec_col)),
            cents, crows, vec_col=vec_col,
        )
        .withColumn("__batch_seq", F.lit(seq).cast("bigint"))
        .withColumn("__batch_id", F.lit(batch_id))
    )
    (
        assigned.write.mode("append")
        .partitionBy("centroid_id")
        .parquet(lists_dir)
    )
    spark.createDataFrame(
        [(batch_id, seq)], "batch_id string, seq bigint"
    ).write.mode("append").parquet(path.rstrip("/") + "/batches")
    return True


def compact_ivf_index(
    spark,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Collapse the inverted lists to one latest-version row per id
    (global last-writer-wins across ALL lists — this is what
    reconciles an update that moved a vector to a different list) and
    commit them as a fresh GENERATION (r10, closing the r9 staged-swap
    crash window): the compacted lists are written to a brand-new
    ``lists_g{N}`` directory, and the commit point is the atomic
    rename of the tiny generation-pointer file
    (``_ivf_lists.g{N}.json``) — a crash anywhere leaves the previous
    generation fully readable (no directory is ever renamed or deleted
    before the pointer commits), and the scheme needs no atomic
    directory rename, so it holds on object stores too. The pointer
    records ``folded_through_seq``; the serve path re-enables its LWW
    collapse only for manifest seqs newer than it, so a compacted
    index serves aggregate-free again. The superseded generation
    directory is swept best-effort AFTER the commit; a crash mid-sweep
    leaves garbage the next compaction removes.

    Still an OFFLINE maintenance op with respect to WRITERS: an upsert
    racing the compaction snapshot can commit rows into the old
    generation and lose them at the pointer flip — serialize upserts
    against compaction (the RollupStore in-process-lock pattern).
    Readers racing the compaction resolve either generation and read
    it intact: the just-superseded directory is left on disk and only
    swept at the START of the NEXT compaction (r10 review fix — an
    immediate sweep could delete files under a reader that resolved
    the old pointer moments earlier), so a reader is only at risk if
    it straddles TWO full compaction cycles. Orphan rows from a
    crashed upsert (seq beyond the manifest's committed max) are
    EXCLUDED from the fold — baking them in would let the read-side
    orphan filter hide an id entirely until the upsert replays."""
    base = path.rstrip("/")
    cur_lists, _folded = _ivf_lists_path(spark, path)
    meta = _ivf_pointer(spark, path)
    fs, hpath = _ivf_fs(spark, path)
    # sweep generations made stale by the PREVIOUS compaction (and any
    # crashed staging dirs): everything but the current committed dir
    cur_name = cur_lists.rsplit("/", 1)[-1]
    for st in fs.listStatus(hpath(base)):
        name = st.getPath().getName()
        if st.isDirectory() and name != cur_name and (
            name == "lists" or name.startswith("lists_g")
        ):
            try:
                fs.delete(st.getPath(), True)
            except Exception:
                pass  # garbage is invisible to readers; next sweep
    _seen, next_seq, pairs = _ivf_batches(spark, path)
    lists = spark.read.parquet(cur_lists)
    if "__batch_seq" in lists.columns:
        # same committed-visibility gate as the serve path (r11:
        # membership, not max-seq — see _ivf_visible): orphans from
        # crashed upserts are excluded from the fold, INCLUDING one
        # whose seq a different later batch re-used
        lists = _ivf_visible(
            spark, lists, pairs=pairs,
            folded_seq=int(meta.get("folded_through_seq", 0)),
            committed_max=next_seq - 1,
        )
        seq_col = F.col("__batch_seq")
    else:
        seq_col = F.lit(0).cast("bigint")
    lww = (
        F.struct(seq_col, F.col("__batch_id"))
        if "__batch_id" in lists.columns else seq_col
    )
    latest = (
        lists.withColumn("__seq", seq_col)
        .groupBy(F.col(id_col))
        .agg(
            # same deterministic (seq, batch_id) key as the serve path
            # (_ivf_lww_key) so a concurrent-writer seq tie folds the
            # SAME winner the serve path was returning
            F.max_by(
                F.struct(F.col(vec_col), F.col("centroid_id")), lww
            ).alias("__l"),
            F.max("__seq").alias("__batch_seq"),
        )
        .select(
            id_col,
            F.col(f"__l.{vec_col}").alias(vec_col),
            "__batch_seq",
            F.col("__l.centroid_id").alias("centroid_id"),
        )
        # folded rows are visible via seq <= folded_through_seq; the
        # tag just keeps the lists schema uniform for future appends
        .withColumn("__batch_id", F.lit("__fold"))
    )
    new_gen = meta["generation"] + 1
    new_dir = base + f"/lists_g{new_gen}"
    (
        latest.write.mode("overwrite")  # overwrite: a crashed earlier
        .partitionBy("centroid_id")     # attempt at this gen is garbage
        .parquet(new_dir)
    )
    _ivf_write_pointer(
        spark, path,
        {"generation": new_gen, "folded_through_seq": next_seq - 1},
    )
    # the superseded generation dir is deliberately NOT deleted here —
    # in-flight readers may have resolved it; the NEXT compaction's
    # start-of-run sweep (above) removes it


def semantic_dedup(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    threshold: float = 0.9,
    dim: int | None = None,
    iterations: int = 3,
    quantizer: str = "kmeans",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): cluster the embedding space with the coarse
    k-means quantizer, compute pairwise cosine WITHIN each cluster
    only, connect pairs above ``threshold`` into duplicate groups
    (:func:`..dedup.connected_components` — near-dup relations are
    not transitive), and keep the minimum-id representative per
    group. The batch twin of the curation step between exact dedup
    (byte-identical) and topic-level filtering: paraphrases, template
    rewrites, and boilerplate-translated copies land in the same
    cluster with cosine near 1 and collapse to one survivor.

    Scale shape: the only pair-generating join is an EQUI-join on
    cluster_id with ``id_a < id_b`` — work is sum over clusters of
    |cluster|²/2, never corpus², and ``n_clusters`` is the knob that
    bounds expected cluster size (SemDeDup runs ~100k clusters at
    web scale; scale it with the corpus so |cluster| stays flat).
    Everything else is the bounded k-means (k rows collected per
    Lloyd step) plus the linear component propagation.

    Returns ``(id_col, cluster_id, component, keep)`` — one row per
    input row; ``component`` is NULL for rows with no duplicate,
    ``keep`` marks survivors (every non-duplicate, plus the min-id
    row of each duplicate group). Two survivors in the same cluster
    are never a pair at/above ``threshold`` (a direct pair would have
    merged their components; pytest-asserted).

    No counterpart in the reference (its embeddings feed features
    only, ``nlp_embeddings.py``); beyond-reference scale surface.
    """
    from .dedup import connected_components

    cents = _centroids(
        df, n_clusters, vec_col=vec_col, id_col=id_col,
        iterations=iterations, quantizer=quantizer,
    )
    crows = _cent_rows(cents)
    if not crows:  # empty corpus: empty frame, output schema intact
        return df.limit(0).select(
            F.col(id_col),
            F.lit(None).cast("int").alias("cluster_id"),
            F.col(id_col).alias("component"),
            F.lit(True).alias("keep"),
        )
    # map-only cluster assignment (r11, small-k tier; the tiered
    # helper switches to the broadcast-join shape above
    # ASSIGN_EXPR_MAX_CENTROIDS — the 100k-cluster web-scale
    # SemDeDup regime): the only pair-generating shuffle left is the
    # equi-join on cluster_id below
    assigned = _assigned_frame(
        df.select(F.col(id_col), F.col(vec_col)),
        cents, crows, vec_col=vec_col, out="cluster_id", dim=dim,
    )
    a = assigned.select(
        F.col("cluster_id"),
        F.col(id_col).alias("__ida"), F.col(vec_col).alias("__va"),
    )
    b = assigned.select(
        F.col("cluster_id"),
        F.col(id_col).alias("__idb"), F.col(vec_col).alias("__vb"),
    )
    pairs = (
        a.join(b, "cluster_id")
        .filter(F.col("__ida") < F.col("__idb"))
        .filter(cosine("__va", "__vb", dim=dim) >= threshold)
        .select(F.col("__ida").alias("id_a"), F.col("__idb").alias("id_b"))
    )
    comps = connected_components(pairs)
    out = assigned.join(
        comps.select(F.col("id").alias(id_col), "component"),
        id_col, "left",
    )
    return out.select(
        id_col,
        "cluster_id",
        "component",
        (
            F.col("component").isNull()
            | (F.col("component") == F.col(id_col))
        ).alias("keep"),
    )
