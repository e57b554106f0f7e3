"""Deduplication operators for large-scale training-data pipelines.

Not part of the reference's own surface (BASELINE.json north star adds
them): exact dedup, MinHash+LSH near-dup, SimHash, n-gram Jaccard pairs,
embedding-cosine near-dup.

Determinism discipline: every hash is md5-based and every sampling decision
is derived from data (no RNG), so each operator has an exact DuckDB-SQL
oracle — near-dup *candidate generation* is checkable by the correctness
gate, not just eyeballed.

Scale notes: all operators are groupBy/join shaped — map-side combinable
aggregations on content keys (exact), band keys (MinHash LSH), or hamming
prefixes (SimHash). Pair output is restricted to within-bucket pairs, which
is what makes LSH linear-ish instead of O(n²).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from serenedb_spark.analysis.analyzers import get_analyzer


# ---- exact dedup ----------------------------------------------------------

def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Content-hash groupBy: keep the smallest id per identical text; emit
    (keep_id, dup_id) for every removed duplicate."""
    h = F.md5(F.col(text_col))
    g = (
        df.select(F.col(id_col), h.alias("h"))
        .groupBy("h")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.sort_array(F.collect_list(id_col)).alias("ids"),
            F.count(F.lit(1)).alias("n"),
        )
        .where(F.col("n") > 1)
    )
    return g.select(
        "keep_id", F.explode("ids").alias("dup_id")
    ).where(F.col("dup_id") != F.col("keep_id"))


def exact_dedup_keep(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The surviving rows (min id per content hash) — the 'dedup the corpus'
    operator itself."""
    h = F.md5(F.col(text_col))
    keep = (
        df.select(F.col(id_col), h.alias("h"))
        .groupBy("h")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(keep, id_col, "left_semi")


# ---- MinHash + LSH --------------------------------------------------------

def minhash_signature(
    toks: Column, num_hashes: int = 8
) -> Column:
    """array<string> of per-seed min md5(seed || ':' || token).

    md5-as-permutation: lexicographic min over hex digests is a uniform
    min-hash; identical across Spark and DuckDB.

    The token array is _bind-ed so it's computed ONCE per row — a raw
    expression referenced from num_hashes lambdas is re-evaluated
    num_hashes times (shingle arrays are themselves O(len) to build).

    NB: the per-seed lambda must stay single-argument — a two-parameter
    lambda is interpreted by F.transform as (element, index)."""
    from serenedb_spark.analysis.analyzers import _bind

    def with_toks(tk: Column) -> Column:
        def _seed_min(i: int):
            prefix = F.lit(f"{i}:")
            return F.array_min(
                F.transform(tk, lambda t: F.md5(F.concat(prefix, t)))
            )

        return F.array(*[_seed_min(i) for i in range(num_hashes)])

    return _bind(toks, with_toks)


def minhash_bands(sig: Column, bands: int, rows: int) -> Column:
    """array<string> of band keys: md5 of the concatenated band slice."""
    keys = [
        F.md5(F.concat_ws("|", F.slice(sig, b * rows + 1, rows)))
        for b in range(bands)
    ]
    return F.array(*keys)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle: str = "shingle3",
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Candidate near-dup pairs (a < b) sharing ≥1 LSH band.

    shingle → minhash → band → self-join per band bucket. The self-join is
    per-band-key, so the shuffle is on band keys (uniform md5 → no skew) and
    pairs explode only inside buckets.

    The shingle+minhash Column tree (num_hashes transform/array_min
    subtrees) is memoized per parameter set — building it cost ~0.5 s of
    py4j round-trips per call (guide §1.3); expressions only, the plan is
    still built and executed fresh per call (expr_memo docs)."""
    rows = num_hashes // bands
    # the memo keys on the analyzer VALUE: a redefined dictionary of the
    # same name is a different (frozen, hashable) Analyzer
    an = get_analyzer(shingle)

    def _build():
        toks = F.array_distinct(an.expr(F.col(text_col)))
        sig = minhash_signature(F.col("toks"), num_hashes)
        return (
            toks,
            F.posexplode(minhash_bands(sig, bands, rows))
            .alias("band_no", "band"),
        )

    from serenedb_spark.functions.expr_memo import memo_exprs

    toks, band_col = memo_exprs(
        ("minhash_lsh_pairs", text_col, an, num_hashes, bands), _build)
    base = df.select(F.col(id_col).alias("id"), toks.alias("toks")).where(
        F.size("toks") > 0
    )
    # band index is folded into the key so different bands never collide
    banded = base.select("id", band_col).select(
        "id", F.concat_ws("#", F.col("band_no"), F.col("band")).alias("band")
    )
    # persist: banded feeds BOTH sides of the self-join — without it the
    # shingle+minhash expression (the expensive part) is computed twice,
    # and run-to-run recomputation was the r4 bench variance (profiled:
    # band-key histogram is uniform, max bucket 4 — no skew)
    banded = banded.persist()
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def duckdb_minhash_pairs_sql(
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle: str = "shingle3",
    num_hashes: int = 16,
    bands: int = 4,
) -> str:
    """Oracle SQL mirroring minhash_lsh_pairs symbol-for-symbol."""
    rows = num_hashes // bands
    an = get_analyzer(shingle)
    toks = f"list_distinct({an.duckdb(text_col)})"
    sig_items = ", ".join(
        f"list_min(list_transform(toks, t -> md5('{i}:' || t)))"
        for i in range(num_hashes)
    )
    band_items = ", ".join(
        f"concat({b}, '#', md5(array_to_string(sig[{b * rows + 1}:{(b + 1) * rows}], '|')))"
        for b in range(bands)
    )
    return f"""
WITH base AS (SELECT {id_col} AS id, {toks} AS toks FROM {table}),
sigs AS (SELECT id, [{sig_items}] AS sig FROM base WHERE len(toks) > 0),
banded AS (SELECT id, unnest([{band_items}]) AS band FROM sigs)
SELECT DISTINCT a.id AS id_a, b.id AS id_b
FROM banded a JOIN banded b ON a.band = b.band AND a.id < b.id
"""


# ---- n-gram / shingle Jaccard --------------------------------------------

def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    analyzer: str = "shingle3",
    threshold: float = 0.5,
    candidate_pairs: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard over distinct analyzer tokens for candidate pairs
    (all-pairs-within-LSH-buckets by default — never all-pairs-global)."""
    if candidate_pairs is None:
        candidate_pairs = minhash_lsh_pairs(
            df, text_col, id_col, shingle=analyzer
        )
    an = get_analyzer(analyzer)
    toks = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(an.expr(F.col(text_col))).alias("toks"),
    )
    a = toks.alias("ta")
    b = toks.alias("tb")
    joined = (
        candidate_pairs.join(a, F.col("id_a") == F.col("ta.id"))
        .join(b, F.col("id_b") == F.col("tb.id"))
    )
    inter = F.size(F.array_intersect(F.col("ta.toks"), F.col("tb.toks")))
    union = F.size(F.array_union(F.col("ta.toks"), F.col("tb.toks")))
    jac = inter.cast("double") / union
    return joined.select(
        "id_a", "id_b", F.round(jac, 6).alias("jaccard")
    ).where(F.col("jaccard") >= threshold)


# ---- SimHash --------------------------------------------------------------

def simhash(toks: Column, bits: int = 32) -> Column:
    """Per-doc SimHash over distinct tokens: bit i of md5-derived token hash
    votes ±1; the sign of each bit-sum forms the fingerprint (BIGINT).

    Token hash = first 8 hex chars of md5 → uint32 (same in DuckDB via
    hex cast), so the fingerprint is engine-portable. The token-hash array
    is _bind-ed: referenced from `bits` aggregate lambdas, a raw expression
    would re-tokenize + re-hash the document once per bit."""
    from serenedb_spark.analysis.analyzers import _bind

    def with_hashes(h: Column) -> Column:
        def _bit_votes(i: int):
            # keep the merge lambda strictly binary (acc, x) — F.aggregate
            # misparses extra parameters
            mask = F.lit(1 << i)
            return F.aggregate(
                h,
                F.lit(0),
                lambda a, x: a + F.when(x.bitwiseAND(mask) != 0, 1).otherwise(-1),
            )

        acc = F.lit(0).cast("long")
        for i in range(bits):
            acc = acc + F.when(_bit_votes(i) >= 0,
                               F.lit(1 << i)).otherwise(F.lit(0))
        return acc

    return _bind(
        F.transform(
            toks,
            lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long"),
        ),
        with_hashes,
    )


def simhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    analyzer: str = "simple",
    bits: int = 32,
) -> DataFrame:
    """(id, simhash) fingerprints; near-dups = small hamming distance,
    bucketed by fingerprint bytes for candidate generation at scale."""
    an = get_analyzer(analyzer)
    toks = F.array_distinct(an.expr(F.col(text_col)))
    return df.select(
        F.col(id_col),
        simhash(toks, bits).alias("simhash"),
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    analyzer: str = "simple",
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance — the scale path on top
    of simhash_dedup's fingerprints.

    Pigeonhole bucketing: split the ``bits``-bit fingerprint into ``bands``
    equal slices; any pair with hamming ≤ bands-1 shares at least one
    identical slice, so the candidate join is a banded equi-join (shuffle on
    small band keys, never all-pairs).  Exact hamming = bit_count(xor) on
    candidates only.  Requires max_hamming < bands for losslessness —
    asserted."""
    assert bits % bands == 0 and max_hamming < bands
    width = bits // bands
    mask = (1 << width) - 1
    an = get_analyzer(analyzer)
    toks = F.array_distinct(an.expr(F.col(text_col)))
    # empty/NULL token sets are excluded: an empty vote vector would get a
    # degenerate all-ones fingerprint and pair with every other empty doc
    fp = (
        df.select(F.col(id_col).alias("id"), toks.alias("toks"))
        .where(F.size("toks") > 0)
        .select("id", simhash(F.col("toks"), bits).alias("fp"))
    )
    band_keys = F.array(*[
        F.concat_ws("#", F.lit(b),
                    F.shiftrightunsigned(F.col("fp"), b * width)
                    .bitwiseAND(F.lit(mask)))
        for b in range(bands)
    ])
    banded = fp.select("id", "fp", F.explode(band_keys).alias("band"))
    a, b_ = banded.alias("a"), banded.alias("b")
    ham = F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp")))
    return (
        a.join(b_, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                ham.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def duckdb_simhash_expr(bits: int = 16) -> str:
    """DuckDB fragment computing the ``bits``-wide SimHash fingerprint from
    a token-hash list column ``hs`` (mirrors simhash() symbol-for-symbol)."""
    return f"""
list_sum(list_transform(range(0, {bits}), i ->
    CASE WHEN list_sum(list_transform(hs, x ->
      CASE WHEN (x // (1::BIGINT << i)) % 2 = 1 THEN 1 ELSE -1 END)) >= 0
    THEN (1::BIGINT << i) ELSE 0 END))::BIGINT
""".strip()


def duckdb_simhash_pairs_sql(
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
) -> str:
    """Oracle mirroring simhash_pairs (banded join + bit_count hamming)."""
    width = bits // bands
    mask = (1 << width) - 1
    band_items = ", ".join(
        f"concat({b}, '#', (fp >> {b * width}) & {mask})" for b in range(bands)
    )
    return f"""
WITH base AS (SELECT {id_col} AS id,
    list_distinct(list_filter(regexp_split_to_array(lower({text_col}), '[^a-z0-9]+'), t -> t <> '')) AS toks
  FROM {table}),
h AS (SELECT id,
    list_transform(toks, t -> list_sum(list_transform(range(0, 8),
      j -> (strpos('0123456789abcdef', substr(md5(t), j + 1, 1)) - 1)
           * (1::BIGINT << (4 * (7 - j)))))) AS hs
  FROM base),
fps AS (SELECT id, {duckdb_simhash_expr(bits)} AS fp FROM h
        WHERE len(hs) > 0),
banded AS (SELECT id, fp, unnest([{band_items}]) AS band FROM fps)
SELECT DISTINCT a.id AS id_a, b.id AS id_b,
  bit_count(xor(a.fp, b.fp)) AS hamming
FROM banded a JOIN banded b ON a.band = b.band AND a.id < b.id
WHERE bit_count(xor(a.fp, b.fp)) <= {max_hamming}
"""


# ---- embedding near-dup ---------------------------------------------------

def embedding_lsh_layout(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bands: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """(base, banded) sign-LSH layout — the CREATE INDEX half of embedding
    near-dup: bit signatures + band keys, persisted so repeated pair
    queries at different thresholds reuse one signature build (the same
    split as doc_index vs the fts queries over it)."""
    rows = (
        df.select(F.posexplode(F.col(vec_col)).alias("i", "v"))
        .groupBy("i")
        .agg(F.min(F.col("v").cast("double")).alias("mn"),
             F.max(F.col("v").cast("double")).alias("mx"))
        .orderBy("i")
        .collect()
    )
    mids = [(r.mn + r.mx) / 2.0 for r in rows]
    dim = len(mids)
    rows_per_band = dim // bands
    mids_col = F.array(*[F.lit(m) for m in mids])
    bits = F.zip_with(
        F.col(vec_col), mids_col,
        lambda v, mid: F.when(v.cast("double") > mid, F.lit(1)).otherwise(F.lit(0)),
    )
    from serenedb_spark.functions import vector as V

    # persisted: base feeds the banded relation AND both value sides of the
    # candidate join — one bit-signature computation instead of three; the
    # L2 norm is precomputed per VECTOR so the per-pair cosine is one dot
    # product, not a dot product plus two norms (profiled 2-3x on the
    # candidate join)
    base = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
        bits.alias("bits"),
        V.l2_norm(F.col(vec_col)).alias("nrm"),
    ).persist()
    band_keys = F.array(*[
        F.concat_ws("", F.lit(f"{b}#"),
                    F.concat_ws("", F.slice(F.col("bits"),
                                            b * rows_per_band + 1,
                                            rows_per_band)))
        for b in range(bands)
    ])
    banded = base.select("id", F.explode(band_keys).alias("band")).persist()
    return base, banded


#: per-side row ceilings under which the LSH layout sides get explicit
#: broadcast hints (guide §3.1: size estimates for in-memory relations
#: with array columns are wildly pessimistic, so the static planner
#: picks sort-merge and AQE discovers the broadcast one materialized
#: stage at a time; a known-small side should be hinted up front).
#: Each gate is sized so the hinted broadcast stays in the tens of MB:
#: the BANDED relation actually broadcast in the self-join is bands×
#: the base row count but its rows are narrow (id + short band key,
#: ~100 B framed); the vector-attach sides carry the full float
#: vectors (~600 B/row framed at 64 dims), so their ceiling is lower.
LSH_BROADCAST_MAX_BANDED_ROWS = 400_000
LSH_BROADCAST_MAX_VECTOR_ROWS = 50_000


def embedding_lsh_pairs_from(
    base: DataFrame, banded: DataFrame, threshold: float = 0.9,
    base_rows: int | None = None, bands: int = 8,
) -> DataFrame:
    """Pair query over a prebuilt sign-LSH layout: within-bucket candidate
    join + exact cosine filter. ``base_rows`` is the layout's counted
    row statistic (known after the CREATE INDEX half materializes);
    each broadcast side is gated on ITS OWN estimated row count — the
    banded self-join side is bands × base_rows (narrow rows), the two
    vector-attach sides are base_rows of full vectors — so no hint can
    pin a multi-hundred-MB relation into executor memory."""
    from serenedb_spark.functions import vector as V

    bcast_banded = (base_rows is not None
                    and base_rows * bands <= LSH_BROADCAST_MAX_BANDED_ROWS)
    bcast_vec = (base_rows is not None
                 and base_rows <= LSH_BROADCAST_MAX_VECTOR_ROWS)
    a, b_ = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(F.broadcast(b_) if bcast_banded else b_,
               (F.col("a.band") == F.col("b.band"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    va = base.select(F.col("id").alias("id_a"), F.col("v").alias("va"),
                     F.col("nrm").alias("na"))
    vb = base.select(F.col("id").alias("id_b"), F.col("v").alias("vb"),
                     F.col("nrm").alias("nb"))
    if bcast_vec:
        va, vb = F.broadcast(va), F.broadcast(vb)
    sim = V.inner_product(F.col("va"), F.col("vb")) / (
        F.col("na") * F.col("nb"))
    return (
        cand.join(va, "id_a").join(vb, "id_b")
        .select("id_a", "id_b", F.round(sim, 6).alias("cosine_sim"))
        .where(F.col("cosine_sim") >= threshold)
    )


def embedding_lsh_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    bands: int = 8,
) -> DataFrame:
    """Scale path for embedding near-dup: sign-LSH bucketing + exact cosine
    on within-bucket candidates only — never an all-pairs cartesian.

    Hyperplane family = per-dimension midrange thresholds (order-independent
    min/max stats, so the identical buckets are reproducible in the SQL
    oracle).  bit_i = v_i > mid_i; the dim bits are sliced into ``bands``
    band keys; ids sharing ≥1 band key are candidates; exact cosine ≥
    threshold filters them.  Same banded-equi-join shape as MinHash LSH:
    shuffle on band keys, pairs explode only inside buckets.  At higher
    corpus scale, raise `bands`' bit width by projecting extra hyperplanes
    instead of slicing thinner."""
    base, banded = embedding_lsh_layout(df, vec_col, id_col, bands)
    return embedding_lsh_pairs_from(base, banded, threshold)


def duckdb_embedding_lsh_pairs_sql(
    table: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    bands: int = 8,
) -> str:
    """Oracle mirroring embedding_lsh_pairs symbol-for-symbol (midrange
    hyperplanes recomputed in SQL, so the text is valid at any sf).  The
    band width is derived from the data (`len(bits) // bands`) exactly as
    the Spark side derives it, so a corpus of any embedding dim agrees."""
    from serenedb_spark.functions import vector as V

    ip = V.duckdb_inner_product("a.v", "b.v")
    nrm_self = V.duckdb_l2_norm(vec_col)
    rpb = f"(len(bits) // {bands})"
    return f"""
WITH dims AS (
  SELECT i, (min(e::DOUBLE) + max(e::DOUBLE)) / 2.0 AS mid
  FROM (SELECT unnest({vec_col}) AS e,
               generate_subscripts({vec_col}, 1) AS i FROM {table})
  GROUP BY i
),
stats AS (SELECT list(mid ORDER BY i) AS mids FROM dims),
base AS (
  SELECT {id_col} AS id, {vec_col} AS v,
    list_transform(range(1, len({vec_col}) + 1),
      i -> CASE WHEN {vec_col}[i]::DOUBLE > mids[i] THEN 1 ELSE 0 END) AS bits,
    {nrm_self} AS nrm
  FROM {table}, stats
),
banded AS (
  SELECT id, unnest(list_transform(range(0, {bands}),
    b -> concat(b, '#', array_to_string(
           bits[b * {rpb} + 1 : (b + 1) * {rpb}], '')))) AS band
  FROM base),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.id < b.id
)
SELECT id_a, id_b,
  round({ip} / (a.nrm * b.nrm), 6) AS cosine_sim
FROM cand
JOIN base a ON a.id = id_a
JOIN base b ON b.id = id_b
WHERE round({ip} / (a.nrm * b.nrm), 6) >= {threshold}
"""


def duckdb_embedding_exact_pairs_sql(
    table: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
) -> str:
    """Exact all-pairs cosine oracle — the dup-pairs *spec* (no bucketing),
    so a recall loss in any approximate Spark path is caught, not mirrored."""
    from serenedb_spark.functions import vector as V

    ip = V.duckdb_inner_product("a.v", "b.v")
    na = V.duckdb_l2_norm("a.v")
    nb = V.duckdb_l2_norm("b.v")
    return f"""
WITH base AS (SELECT {id_col} AS id, {vec_col} AS v FROM {table})
SELECT a.id AS id_a, b.id AS id_b,
  round({ip} / ({na} * {nb}), 6) AS cosine_sim
FROM base a JOIN base b ON a.id < b.id
WHERE round({ip} / ({na} * {nb}), 6) >= {threshold}
"""


def embedding_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    bucket_col: str | None = None,
) -> DataFrame:
    """Pairs with cosine similarity ≥ threshold. With bucket_col (e.g. an IVF
    centroid_id), the self-join runs within buckets — the scale path; without
    it, a full self-join (only for small/test data)."""
    from serenedb_spark.functions import vector as V

    cols = [F.col(id_col).alias("id"), F.col(vec_col).alias("v")]
    if bucket_col:
        cols.append(F.col(bucket_col).alias("bk"))
    base = df.select(*cols)
    a, b = base.alias("a"), base.alias("b")
    cond = F.col("a.id") < F.col("b.id")
    if bucket_col:
        cond = cond & (F.col("a.bk") == F.col("b.bk"))
    sim = V.cosine_similarity(F.col("a.v"), F.col("b.v"))
    return (
        a.join(b, cond)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(sim, 6).alias("cosine_sim"),
        )
        .where(F.col("cosine_sim") >= threshold)
    )


# ---- near-dup clustering (connected components over the pair graph) ------

def dup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    checkpoint_every: int = 5,
    local_threshold: int = 100_000,
) -> DataFrame:
    """Connected components over the undirected dup-pair graph: every node
    that appears in a pair is labeled with the MIN id reachable from it —
    (id, cluster) rows, one per member doc.

    Reference behavior target: grouping LSH/SimHash candidate pairs into
    duplicate clusters before canonical selection (the standard corpus-dedup
    step downstream of minhash_lsh_pairs / simhash_pairs).

    Spark-first: iterative min-label propagation — the MapReduce
    connected-components shape of Kiveris et al., "Connected Components in
    MapReduce and Beyond" (SoCC'14). Each round is one equi-join of the
    label relation against the edge list (shuffle on node id) plus a
    map-side-combinable min-aggregate; rounds needed = O(log diameter),
    and near-dup components are shallow (diameter ≤ a few hops), so 3-5
    rounds close real corpora. The fixpoint test is a driver-side COUNT of
    changed labels (an aggregate, never a collect of the data), and every
    ``checkpoint_every`` rounds the label relation is localCheckpoint-ed to
    truncate lineage — at 100 TB the edge relation is only the near-dup
    pairs (orders of magnitude smaller than the corpus), so each round's
    shuffle is tiny relative to the candidate-generation stage that
    produced it.
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .persist()
    )
    # small-graph shortcut: LSH candidate graphs are usually a vanishing
    # fraction of the corpus — when the edge list provably fits on the
    # driver, union-find there beats paying one distributed round-trip
    # PER iteration (the same runtime-size dispatch AQE applies to join
    # strategies). The distributed loop below is the >threshold path.
    n_edges = edges.count()
    if n_edges <= local_threshold:
        rows = edges.collect()
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in rows:
            a, b = r["src"], r["dst"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        out_rows = [(n, find(n)) for n in parent]
        edges.unpersist()
        spark = pairs.sparkSession
        schema = pairs.select(
            F.col(id_a).alias("id"), F.col(id_a).alias("cluster")).schema
        return spark.createDataFrame(out_rows, schema)
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("label"))
        .persist()
    )
    for it in range(max_iter):
        nbr = (
            edges.join(labels, edges["dst"] == labels["id"])
            .select(edges["src"].alias("id"), "label")
        )
        # pointer-doubling shortcut (label <- label-of-label): with it the
        # propagation distance doubles per round, so convergence is
        # O(log diameter) instead of O(diameter)
        l1, l2 = labels.alias("l1"), labels.alias("l2")
        short = (
            l1.join(l2, F.col("l1.label") == F.col("l2.id"))
            .select(F.col("l1.id").alias("id"),
                    F.col("l2.label").alias("label"))
        )
        new_labels = (
            labels.union(nbr).union(short)
            .groupBy("id").agg(F.min("label").alias("label"))
        )
        if (it + 1) % checkpoint_every == 0:
            new_labels = new_labels.localCheckpoint(eager=False)
        new_labels = new_labels.persist()
        changed = (
            labels.alias("o")
            .join(new_labels.alias("n"), "id")
            .where(F.col("o.label") != F.col("n.label"))
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    # materialize the (tiny: near-dup members only) label relation so the
    # loop's persisted generations can be released now instead of leaking
    # executor cache across calls; the checkpoint RDD is reclaimed by the
    # ContextCleaner when the caller drops the DataFrame
    out = (labels.select("id", F.col("label").alias("cluster"))
           .localCheckpoint(eager=True))
    labels.unpersist()
    return out


def dedup_keep_canonical(
    df: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Survivors of cluster dedup: drop every cluster member except the
    canonical (min-id) representative; docs in no cluster pass through.
    One broadcast-able anti-join — `clusters` holds only near-dup members,
    a vanishing fraction of a 100 TB corpus."""
    losers = clusters.where(F.col("id") != F.col("cluster")).select("id")
    return df.join(losers, df[id_col] == losers["id"], "left_anti")


def duckdb_dup_clusters_sql(pairs_sql: str) -> str:
    """Oracle mirroring dup_clusters: min reachable label via a recursive
    label walk (UNION dedups, so the walk terminates; min() per node picks
    the component representative)."""
    return f"""
WITH RECURSIVE
pairs AS ({pairs_sql}),
edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
walk(id, label) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.src, w.label FROM edges e JOIN walk w ON w.id = e.dst
)
SELECT id, min(label) AS cluster FROM walk GROUP BY id
"""
