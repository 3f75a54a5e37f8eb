"""Deduplication operators for LLM-data pipelines (north-star extensions).

Five tiers, cheap to expensive, all shuffle-frugal:

1. exact (all-column / subset)   -- hash groupBy, shuffle O(distinct)
2. content-hash (md5)            -- one narrow pass + groupBy on 128-bit key
3. MinHash + LSH                 -- shingle -> k salted-min hashes -> band
                                    buckets -> candidate pairs; the join is
                                    on bucket ids, never all-pairs
4. SimHash                       -- 16-bit locality hash; equal-hash blocking
5. n-gram Jaccard verify         -- exact similarity, run only on candidates

Hashing is md5-based (not Spark's murmur3) so signatures are reproducible
in any engine -- this is what lets the DuckDB oracle check byte-identical
signatures. At 100 TB the shape holds: everything is per-row expression
work + groupBys on hashes; no driver collects, no cross joins.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .loops import fixpoint, materialize, staged
from .text import tokens, word_ngrams


def exact_dedup(df: DataFrame, subset: Sequence[str] | None = None) -> DataFrame:
    """Tier 1 -- dropDuplicates (A2), all-column or subset."""
    return df.dropDuplicates(list(subset)) if subset else df.dropDuplicates()


def content_hash(c: Column | str) -> Column:
    """Tier 2 -- md5 content fingerprint for exact-duplicate grouping."""
    c = F.col(c) if isinstance(c, str) else c
    return F.md5(c)


def shingles(text_col: str, n: int = 3) -> Column:
    """Distinct word n-gram shingle set of a document."""
    return word_ngrams(tokens(text_col), n=n, distinct=True)


def minhash_cols(shingle_col: Column, num_hashes: int = 8) -> list[Column]:
    """MinHash signature as ``num_hashes`` independent salted-md5 minima.

    min(md5(salt:shingle)) over the shingle set is a valid min-wise hash
    per salt; md5-string ordering is total and engine-portable. Returns one
    Column per hash (mh0..mh{k-1}).

    NB: the per-salt lambda must be unary -- F.transform treats a 2-arg
    callable as an (element, index) lambda, which would silently replace
    the salt with the array position."""

    def salted(i: int):
        prefix = f"{i}:"
        return lambda s: F.md5(F.concat(F.lit(prefix), s))

    return [
        F.array_min(F.transform(shingle_col, salted(i))).alias(f"mh{i}")
        for i in range(num_hashes)
    ]


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-document MinHash signature table: id, mh0..mh{k-1}, sig_hash.
    Narrow (per-row) computation -- no shuffle at all.

    Tokenization and shingling are staged through ``withColumn`` so each
    becomes an attribute reference downstream: Catalyst excludes
    higher-order-function lambdas from common-subexpression elimination,
    so inlining the shingle subtree into all k min-hash columns would
    re-run split+ngram k times per row (measured 12x slower at sf0.1)."""
    staged = (
        df.withColumn("__toks", tokens(text_col))
        .filter(F.size("__toks") >= shingle_n)
        .withColumn("__sh", word_ngrams(F.col("__toks"), n=shingle_n, distinct=True))
    )
    out = staged.select(id_col, *minhash_cols(F.col("__sh"), num_hashes))
    sig = F.md5(F.concat_ws("|", *[f"mh{i}" for i in range(num_hashes)]))
    return out.withColumn("sig_hash", sig)


def lsh_candidate_pairs(
    sig: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """LSH banding: hash each band of the signature to a bucket, join docs
    sharing any (band, bucket). The self-join is on bucket ids -- shuffle
    O(docs x bands), never O(docs^2). Returns distinct (id_a, id_b) pairs,
    id_a < id_b."""
    n_bands = num_hashes // band_size
    bands = []
    for b in range(n_bands):
        cols = [F.col(f"mh{i}") for i in range(b * band_size, (b + 1) * band_size)]
        bands.append(
            F.struct(F.lit(b).alias("band"), F.md5(F.concat_ws("|", *cols)).alias("bucket"))
        )
    exploded = sig.select(id_col, F.explode(F.array(*bands)).alias("bb")).select(
        id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    a = exploded.select(F.col(id_col).alias("id_a"), "band", "bucket")
    b = exploded.select(F.col(id_col).alias("id_b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"], "inner")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates()
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    min_jaccard: float = 0.0,
    block_col: str | None = None,
) -> DataFrame:
    """Tier 5 -- exact n-gram Jaccard similarity via inverted-index join:
    explode distinct shingles, self-join on shingle (pairs meet only where
    they share a gram), count intersections, derive union from set sizes.
    ``block_col`` restricts pairs to the same block (e.g. a source or an
    LSH bucket) -- the scale lever.

    The result is fully lazy and nothing is persisted -- calling this
    function never runs a job, so plan-only consumers (explain dumps,
    schema enumeration, catalog construction) pay nothing. The nominal
    cost would be re-executing the index pipeline 3x on action (both
    self-join sides + the size aggregate), but in practice it does NOT
    recompute: the index is materialized by ONE exchange that all three
    consumers share via AQE runtime stage reuse (measured: removing the materialization point entirely and
    carrying sizes inline made the query ~40% SLOWER at sf0.1 because
    each self-join side then re-ran the tokenize+shingle pass).

    r14 exchange diet (guide §2.4): the shared materialization point is
    now ``repartition(join_keys)`` -- the exact partitioning the
    self-join requires -- instead of a ``dropDuplicates`` over all
    columns.  The old shape shuffled the index by (id, block, gram) and
    then the self-join RE-shuffled both sides by (block, gram): two
    full index exchanges.  Hash-partitioning by the join keys feeds the
    self-join with zero further exchanges (ngram_jaccard_pairs measured
    ~4.3s -> ~3.5s warm at sf0.1, identical rows).  The all-column
    ``dropDuplicates`` stays for semantics (inputs with duplicate ids
    must not double-count grams) but now runs ABOVE the repartition,
    where HashPartitioning(block, gram) already satisfies its clustered
    distribution -- a hash aggregate, no second exchange (verified in
    the executed plan)."""
    join_keys = ["block", "gram"] if block_col else ["gram"]
    sh = (
        df.withColumn("__toks", tokens(text_col))
        .select(
            F.col(id_col).alias("id"),
            *([F.col(block_col).alias("block")] if block_col else []),
            F.explode(
                word_ngrams(F.col("__toks"), n=shingle_n, distinct=True)
            ).alias("gram"),
        )
        # join-key partitioning: the ONE index exchange, shared by both
        # self-join sides with no re-shuffle (see docstring, r14)
        .repartition(*[F.col(k) for k in join_keys])
        .dropDuplicates()
    )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_grams"))
    a = sh.withColumnRenamed("id", "id_a")
    b = sh.withColumnRenamed("id", "id_b")
    inter = (
        a.join(b, join_keys, "inner")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_grams", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_grams", "n_b"), "id_b")
        .select(
            "id_a", "id_b", "n_inter", "n_a", "n_b",
            (
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double")
            ).alias("jaccard"),
        )
    )
    if min_jaccard > 0:
        out = out.filter(F.col("jaccard") >= min_jaccard)
    return out


def _hex_bit_contrib(nibble_idx: int, bit_in_nibble: int):
    """Unary closure: +-1 vote of one hash bit, decoded from the hex
    prefix with a position-lookup (portable -- no hex-int casts)."""

    def contrib(h):
        hexval = (
            F.position(F.substring(h, nibble_idx, 1), F.lit("0123456789abcdef")) - 1
        )
        bit = F.shiftright(hexval, bit_in_nibble).bitwiseAND(F.lit(1))
        return (bit * 2 - 1).cast("bigint")

    return contrib


def _vote_sql(hexes_sql: str, g: int) -> str:
    """SQL text of global bit ``g``'s vote sum over the token-hash array
    ``hexes_sql`` -- the exact expression ``_hex_bit_contrib`` builds
    (position-lookup nibble decode, +-1 vote, bigint fold), parsed
    JVM-side in ONE ``F.expr`` call instead of ~30 py4j round trips per
    bit.  r14 measured the per-bit Column-builder costing ~2.7 s of
    driver time PER PLAN BUILD for the 96-bit banded table (the bench
    rebuilds every entry's plan each pass); the string build is ~0.2 s
    with a bit-identical expression tree (guide §7.3: very large
    expression trees make planning itself the bottleneck -- here the
    cost was not even planning but the Python->JVM chatter building the
    tree)."""
    ni, b = g // 4 + 1, g % 4
    return (
        f"aggregate(transform({hexes_sql}, t -> "
        f"CAST((((position(substr(t, {ni}, 1), '0123456789abcdef') - 1) "
        f">> {b}) & 1) * 2 - 1 AS BIGINT)), "
        f"CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )


def _packed_votes_sql(hexes_sql: str, bits: list[int]) -> str:
    """SQL text packing the sign bits of the vote sums for global bits
    ``bits`` into one bigint (bit j of the result = 1 iff bit ``bits[j]``'s
    vote sum is positive) -- the band/packing step shared by
    ``simhash_band_cols`` and ``simhash_from_hexes``."""
    terms = " + ".join(
        f"(CASE WHEN {_vote_sql(hexes_sql, g)} > 0 "
        f"THEN CAST({2 ** j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for j, g in enumerate(bits)
    )
    return f"(CAST(0 AS BIGINT) + {terms})"


def derive_band_bits(
    n_docs: int,
    n_bands: int = 4,
    max_band_bits: int = 60,
    hash_bits: int | None = None,
) -> int:
    """Band width (bits) sized to the corpus so RANDOM band collisions
    stay O(corpus): expected colliding pairs per band are ~n^2 / 2^(w+1)
    (birthday), so w >= log2(n) + margin keeps them <= ~n across all
    bands. This is the LSH band-space scaling law the r8 100x probe
    measured being violated at fixed 15-bit bands (221x candidates at
    100x corpus -- band values saturate once corpus >> n_bands * 2^w).

    Returns ceil((log2(n_docs) + 2) / 4) * 4 clamped to [16, max_band_bits]
    -- nibble-aligned so each band reads whole hex digits of the token
    hash, and the +2 margin keeps expected random pairs per band under
    ~n/8. At n = 6e5 (the 100x probe corpus) this derives 24; at n = 1e11
    (100 TB of ~1 KB docs) it derives 40 -- below the 60-bit per-band
    bigint ceiling, so 4 bands always suffice for radius <= 3 pigeonhole
    completeness at any realistic corpus size.

    ``hash_bits`` makes the sizing SUPPLY-aware (r9 verdict nit #2,
    hardened): the vote hash must provide n_bands * w independent bits,
    so when given, w is additionally clamped to hash_bits // n_bands.
    md5 (``simhash_band_cols``'s source, 128 bits) therefore tops out at
    32-bit bands with 4 bands -- enough through n ~ 2^30 docs; the
    40-bit regime at n = 1e11 requires a 256-bit vote hash (sha256:
    F.sha2(col, 256) / DuckDB sha256() -- same nibble-indexing recipe,
    32 more hex chars).  ``simhash_band_cols`` enforces the same budget
    at expression-build time (raises past 128 md5 bits), so an
    unclamped width can never silently truncate."""
    import math

    if n_docs < 2:
        w = 16
    else:
        w = max(16, min(max_band_bits, math.ceil((math.log2(n_docs) + 2) / 4) * 4))
    if hash_bits is not None:
        # supply clamp: nibble-aligned share of the vote hash per band.
        # A supply too short for even the 16-bit floor fails LOUDLY --
        # returning a sub-floor width would void the birthday bound the
        # function exists to guarantee (same discipline as
        # simhash_band_cols' budget check).
        supply = (hash_bits // n_bands) // 4 * 4
        if supply < 16:
            raise ValueError(
                f"hash_bits={hash_bits} cannot supply {n_bands} bands of the "
                f"16-bit minimum width (per-band supply {supply}); use a "
                f"longer vote hash or fewer bands"
            )
        w = min(w, supply)
    return w


def simhash_band_cols(
    hexes: Column | str, band_bits: int, n_bands: int
) -> list[Column]:
    """Per-band SimHash values: band b packs hash bits
    [b*band_bits, (b+1)*band_bits) into its own bigint, so total width
    band_bits * n_bands may exceed 63 (the single-bigint ceiling that
    capped ``simhash_from_hexes`` at 60). Bands partition the bit space,
    so full-width Hamming distance is the SUM of per-band
    bit_count(xor) -- exact, no reassembly needed."""
    if not 4 <= band_bits <= 60:
        raise ValueError("band_bits must be in [4, 60]")
    if band_bits * n_bands > 128:  # md5 supplies 128 bits
        raise ValueError("band_bits * n_bands exceeds the md5 bit budget")
    if isinstance(hexes, str):
        # string input names the staged hash-array column: build each band
        # as ONE JVM-parsed expression (see _vote_sql on why -- ~10x
        # cheaper plan build, bit-identical expression)
        return [
            F.expr(
                _packed_votes_sql(
                    hexes,
                    list(range(bnd * band_bits, (bnd + 1) * band_bits)),
                )
            )
            for bnd in range(n_bands)
        ]
    cols = []
    for bnd in range(n_bands):
        total = F.lit(0).cast("bigint")
        for j in range(band_bits):
            g = bnd * band_bits + j
            vote = F.aggregate(
                F.transform(hexes, _hex_bit_contrib(g // 4 + 1, g % 4)),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            )
            total = total + F.when(vote > 0, F.lit(2**j).cast("bigint")).otherwise(
                F.lit(0).cast("bigint")
            )
        cols.append(total)
    return cols


def simhash_bands_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    band_bits: int = 24,
    n_bands: int = 4,
) -> DataFrame:
    """Wide banded SimHash table: (id, band0..band{n_bands-1}), each band
    a ``band_bits``-wide bigint over its own slice of the hash bit
    space. This is the corpus-scalable variant of ``simhash_table``:
    total hash width band_bits * n_bands (default 96) is not limited by
    a single bigint, and ``derive_band_bits(corpus_size)`` sizes the
    band space so random band collisions stay O(corpus) -- the
    mitigation for the band-space saturation knee the 100x scale probe
    measured on the fixed 60-bit/15-bit layout (docs/SCALEUP.md, 100x
    table). Radius-r Hamming completeness needs n_bands >= r + 1
    (pigeonhole over partitioned bits), unchanged from the narrow
    variant."""
    n_hex = (band_bits * n_bands + 3) // 4
    staged = df.withColumn(
        "__h",
        F.transform(tokens(text_col), lambda t: F.substring(F.md5(t), 1, n_hex)),
    )
    cols = simhash_band_cols("__h", band_bits, n_bands)
    return staged.select(
        id_col, *[c.alias(f"band{b}") for b, c in enumerate(cols)]
    )


def simhash_from_hexes(hexes: Column | str, n_bits: int = 60) -> Column:
    """SimHash of arbitrary width (multiple of 4, <= 60) from an array of
    token hash prefixes (``substring(md5(token), 1, n_bits/4)``).

    Each token votes +-1 on every bit; bit j of the final hash is the
    sign of the vote sum. Hex digits are decoded with a position-lookup
    (portable to any SQL dialect -- no hex-int casts). Takes the hash
    array (not raw text) so md5 runs ONCE per token, not once per bit.
    60 is the ceiling because 2^59 is the highest power-of-two weight
    that stays clear of bigint sign trouble on every engine."""
    if n_bits % 4 or not 4 <= n_bits <= 60:
        raise ValueError("n_bits must be a multiple of 4 in [4, 60]")

    if isinstance(hexes, str):
        # string input names the staged hash-array column: one JVM-parsed
        # expression (see _vote_sql -- ~10x cheaper plan build, identical
        # expression tree)
        return F.expr(_packed_votes_sql(hexes, list(range(n_bits))))

    total = F.lit(0).cast("bigint")
    for j in range(n_bits):
        vote = F.aggregate(
            F.transform(hexes, _hex_bit_contrib(j // 4 + 1, j % 4)),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )
        total = total + F.when(vote > 0, F.lit(2 ** j).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
    return total


def simhash_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n_bits: int = 16
) -> DataFrame:
    """Per-document SimHash table: id, simhash (``n_bits`` wide, default
    the legacy 16). Stages the token-hash array as a column (see
    minhash_signatures on why staging matters). The vote folds decode hex
    digits in place with a position-lookup; pre-decoding the nibbles into
    ``array<array<int>>`` was measured SLOWER (7.8s vs 5.8s at sf0.1,
    60-bit) -- nested-array allocation costs more than the string
    lookups it saves."""
    staged = df.withColumn(
        "__h",
        F.transform(
            tokens(text_col), lambda t: F.substring(F.md5(t), 1, n_bits // 4)
        ),
    )
    return staged.select(
        id_col, simhash_from_hexes("__h", n_bits=n_bits).alias("simhash")
    )


_CLUSTER_CAP = 20  # near-dup clusters are shallow: a handful of rounds


def cluster_labels(pairs: DataFrame) -> DataFrame:
    """Connected components over candidate duplicate pairs: min-label
    propagation to fixpoint. Returns (id, label) where label is the
    cluster's minimum member id (the canonical survivor).

    Iterative (non-SQL-expressible at scale): each round is one join +
    min-aggregate, O(cluster diameter) rounds -- near-dup clusters are
    shallow, so a handful; a cluster still changing after
    ``_CLUSTER_CAP`` rounds raises instead of returning unconverged
    labels.  Each round is checkpointed (the plan would otherwise grow
    exponentially).

    Round body (same treatment as graph_analytics'
    _min_label_components, labels bit-identical):

    - SELF-LOOPS in the staged edge list make the per-round
      groupBy(src).min(label) cover each node's own label, so the
      propagate step is ONE equi-join + aggregate.
    - Convergence uses the monotone potential (labels only ever
      decrease under min-propagation, so SUM(label) strictly decreases
      until fixpoint; decimal(38,0) so a wrapped bigint sum can never
      fake convergence), observed on the SAME job that materializes the
      round's checkpoint.
    - The edge list is staged by ``dst`` (the per-round join key), so
      rounds shuffle only the narrow (id, label) relation, never the
      edges, and the upstream pipeline (e.g. MinHash -> LSH) runs once."""
    directed = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    edges = directed.union(
        directed.select(F.col("src").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    pot = F.sum(F.col("label").cast("decimal(38,0)"))
    with staged(edges, "dst") as edges:

        def step(labels, _pot):
            stepped = (
                edges.join(labels, edges.dst == labels.id)
                .groupBy(F.col("src").alias("id"))
                .agg(F.min("label").alias("label"))
            )
            return materialize("cluster_labels_round", stepped, pot)

        # star-collapse initialization: label = min(id, direct neighbors)
        # resolves star/clique shapes immediately (self-loops make
        # min(dst) already include id)
        start = edges.groupBy(F.col("src").alias("id")).agg(
            F.min("dst").alias("label")
        )
        labels, _ = fixpoint(
            "cluster_labels",
            step,
            materialize("cluster_labels_start", start, pot),
            _CLUSTER_CAP,
        )
    return labels


def dedup_survivors(df: DataFrame, pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Fuzzy-dedup resolution: collapse each near-duplicate cluster to its
    minimum-id member; rows not in any pair survive untouched."""
    labels = cluster_labels(pairs)
    dropped = labels.filter(F.col("id") != F.col("label")).select(
        F.col("id").alias(id_col)
    )
    return df.join(dropped, id_col, "left_anti")


# ---------------------------------------------------------------- bloom

def _bloom_pos(key: Column, salt: int, n_bits: int) -> Column:
    """Deterministic, engine-portable bloom bit position: the first 15 hex
    chars (60 bits) of md5('{salt}#' || key), mod n_bits. Matches DuckDB's
    ``('0x' || substr(md5(...), 1, 15))::BIGINT % n_bits`` byte-for-byte,
    so the whole bloom path is oracle-checkable like the minhash family."""
    h = F.md5(F.concat(F.lit(f"{salt}#"), key))
    return F.conv(F.substring(h, 1, 15), 16, 10).cast("bigint") % n_bits


def bloom_build(
    keys: DataFrame, key_col: str, n_words: int = 256, k: int = 3
) -> DataFrame:
    """Distributed Bloom-filter build over a key set: returns the sparse
    bitmap as (word int, bits long) rows, <= ``n_words`` of them.

    Each key sets ``k`` bit positions in an ``n_words * 63``-bit space (63
    usable bits per long keeps every shift in 0..62 -- no sign-bit
    overflow on either engine). The build is ONE hash aggregation with
    map-side combine: partials OR together per word on each task before a
    shuffle of at most n_words rows per task, so building over 100 TB of
    historical keys moves kilobytes. This is the same physical shape
    Spark's AQE runtime bloom join injects (BloomFilterAggregate), built
    from public relational ops so the filter itself is a first-class,
    storable table -- persist it next to the corpus and nightly ingest
    never rebuilds it (OR in the new batch's words instead)."""
    m = n_words * 63
    key = F.col(key_col)
    pos = F.explode(F.array(*[_bloom_pos(key, i, m) for i in range(k)])).alias("pos")
    return (
        keys.select(pos)
        .groupBy(F.floor(F.col("pos") / 63).cast("int").alias("word"))
        .agg(F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 63 AS INT))")).alias("bits"))
    )


def bloom_maybe_contains(
    df: DataFrame,
    key_col: str,
    bloom_words: DataFrame,
    id_col: str,
    n_words: int = 256,
    k: int = 3,
    flag_col: str = "bloom_maybe",
) -> DataFrame:
    """Probe: adds ``flag_col`` (boolean) -- true iff ALL k bloom bits for
    ``key_col`` are set. No false negatives; false-positive rate is
    (1 - e^(-k*n/m))^k for n keys in m = n_words*63 bits.

    ``id_col`` must uniquely identify rows (a PK, not a generated id --
    monotonically_increasing_id is nondeterministic across subtree
    re-evaluations and would mis-join the flag back). The probe is a
    broadcast equi-join of the row's k (word, bit) pairs against the
    <= n_words-row bitmap -- fully narrow on the batch side. The payoff
    at 100 TB: only bloom-positive rows (true dups + the tiny FP
    fraction) proceed to the exact semi-join against the historical key
    set, so the big shuffle shrinks by the bloom's rejection rate."""
    m = n_words * 63
    key = F.col(key_col)
    probes = df.select(
        id_col,
        F.explode(F.array(*[_bloom_pos(key, i, m) for i in range(k)])).alias("pos"),
    )
    w = bloom_words.select(F.col("word").alias("_bw"), F.col("bits").alias("_bbits"))
    hits = (
        probes.join(
            F.broadcast(w),
            (F.col("_bw") == F.floor(F.col("pos") / 63).cast("int"))
            & (
                F.col("_bbits").bitwiseAND(
                    F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 63 AS INT))")
                )
                != 0
            ),
            "inner",
        )
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("_n_set"))
        .filter(F.col("_n_set") == k)
        .select(id_col, F.lit(True).alias(flag_col))
    )
    return df.join(hits, id_col, "left").withColumn(
        flag_col, F.coalesce(F.col(flag_col), F.lit(False))
    )


def bloom_union(*word_tables: DataFrame) -> DataFrame:
    """OR two or more bloom bitmaps (same n_words/k sizing) into one:
    union the (word, bits) rows and bit_or per word. Because a bloom is a
    pure bit-set, union(bloom(A), bloom(B)) == bloom(A | B) BIT-FOR-BIT
    -- so the nightly flow stores the historical bitmap as a <= n_words
    row table and each ingest ORs in only the new batch's words, never
    rebuilding over history. One tiny aggregation, mergeable exactly like
    the HLL sketches."""
    out = word_tables[0]
    for w in word_tables[1:]:
        out = out.unionByName(w)
    return out.groupBy("word").agg(F.bit_or("bits").alias("bits"))


def exact_substring_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_df: int = 2,
) -> DataFrame:
    """Exact-substring deduplication, suffix-group formulation (Lee et
    al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): the maximal DISJOINT regions of each document covered by
    verbatim >= ``k``-token substrings occurring in >= ``min_df``
    distinct documents, published as (id, span_start, span_len) in
    1-based token positions -- exactly the regions the classic dedup
    pass cuts out of each training document (Lee et al. remove the
    UNION of all duplicated spans, so the well-defined per-doc output
    is that union decomposed into maximal contiguous intervals; a
    single interval's anchors may match different partner documents).
    One DELIBERATE deviation from the cited method: the ``min_df``
    gate counts DISTINCT documents, so a substring repeated only
    WITHIN one document is not flagged here, whereas Lee et al.'s
    suffix-array ExactSubstr also removes intra-document repeats --
    the distinct-doc gate is the tested, cross-document contract.

    Formulation -- no suffix array, no driver state: a duplicated span
    of length L >= k contains exactly L-k+1 cross-document-duplicated
    k-gram anchors at consecutive start positions, so the covered
    union is reconstructible from the anchor hit-set alone:
      1. shingle each doc into k-gram anchors (one explode, O(tokens));
      2. document frequency per anchor FINGERPRINT -- md5, so the
         groupBy shuffles fixed 32-hex keys, never k-token text -- and
         keep anchors in >= min_df DISTINCT docs;
      3. join hits back to (doc, pos): the sorted (gram-anchor, doc,
         pos) groups of the suffix-group method;
      4. per doc, each hit anchor covers [pos, pos+k-1]; merge
         overlapping-or-adjacent extents with the islands pattern (new
         island when pos > running-max-pos + k, over a doc-partitioned
         window) -- the bounded extension step: each further duplicated
         anchor extends the covered region by at most one token, and
         an island s..e is exactly the maximal interval [s, e+k-1].

    Scale shape: one explode to O(tokens) anchor rows; one
    map-side-combined groupBy on the 16-byte fingerprint; the hit join
    is a KEYED shuffle join, with an explicit merge HINT -- on a 100 TB
    corpus the duplicated-anchor set is O(duplicated positions)
    (1-10%% of tokens per the dedup literature), data-sized, and the
    static planner's post-aggregate size ESTIMATE stays under the
    broadcast threshold regardless (measured: the un-hinted plan
    broadcast-OOMs on the 100x probe corpus while estimating small), so
    the hint is load-bearing: it PINS a shuffle-hash join at every
    scale -- Spark honors an explicit SHUFFLE_HASH hint ahead of
    size-based broadcast selection, including during AQE
    re-optimization, so the join deliberately forgoes a runtime
    broadcast even when the dup set is small.  That trade was measured
    acceptable (the hinted plan is also FASTER at sf0.1), and a shuffle
    join always survives where a wrong static broadcast OOMs.  The
    island-merge window is
    doc-partitioned (bounded by the longest document, the same per-doc
    discipline as sessionization).  Nothing is ever all-pairs and
    nothing collects.
    """
    g = (
        df.select(F.col(id_col).alias("id"), tokens(text_col).alias("__toks"))
        .select(
            "id", word_ngrams(F.col("__toks"), n=k, distinct=False).alias("__grams")
        )
        # posexplode_outer, same rationale as dupspan_coverage below:
        # a plain Generate infers size(grams) > 0 and pushes the whole
        # tokenize+shingle expression into the scan stage
        .select("id", F.posexplode_outer("__grams").alias("pos0", "gram"))
        .filter(F.col("gram").isNotNull())
        .select(
            "id",
            (F.col("pos0") + 1).alias("pos"),
            F.md5("gram").alias("g"),
        )
    )
    dup = (
        g.groupBy("g")
        .agg(F.count_distinct("id").alias("df"))
        .filter(F.col("df") >= min_df)
        .select("g")
    )
    win = Window.partitionBy("id").orderBy("pos")
    prev_max = F.max("pos").over(
        win.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = g.join(dup.hint("shuffle_hash"), "g").select(
        "id",
        "pos",
        # anchor at pos covers [pos, pos+k-1]; a new island starts when
        # this extent neither overlaps nor touches the running coverage
        F.when(F.col("pos") > F.coalesce(prev_max, F.lit(-k)) + k, 1)
        .otherwise(0)
        .alias("new_island"),
    )
    grp = F.sum("new_island").over(
        win.rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        flagged.select("id", "pos", grp.alias("grp"))
        .groupBy("id", "grp")
        .agg(F.min("pos").alias("s"), F.max("pos").alias("e"))
        .select(
            F.col("id").alias(id_col),
            F.col("s").cast("bigint").alias("span_start"),
            (F.col("e") - F.col("s") + k).cast("bigint").alias("span_len"),
        )
    )


def exact_substring_removal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_df: int = 2,
    keep_cols: Sequence[str] = (),
) -> DataFrame:
    """The REMOVAL side of exact-substring dedup (r13 verdict ask #2;
    Lee et al. 2022): ``exact_substring_spans`` reconstructs the
    duplicated regions; the pipeline's actual artifact is the corpus
    with those regions CUT OUT.  This operator subtracts the
    reconstructed islands from each document's token stream and
    publishes per-document retained-token accounting plus a digest of
    the cleaned text:

        (id, *keep_cols, n_tokens, n_removed, n_retained, retained_md5)

    one row per input document (documents with no duplicated span keep
    everything: n_removed = 0, digest of the original token stream).
    ``retained_md5`` is md5 of the surviving tokens joined by a single
    space in original order -- the canonical form both engines can
    reproduce exactly, and enough to verify any downstream consumer
    rebuilt the same cleaned corpus.  Invariant (tested on the
    planted-span fixture): n_retained = n_tokens - n_removed, because
    the islands are maximal DISJOINT in-bounds intervals by
    construction.  Inherits the spans operator's deliberate deviation:
    only CROSS-document duplicates (>= ``min_df`` distinct docs) are
    cut; intra-document repeats survive.

    Scale shape: one spans pass (see ``exact_substring_spans`` -- the
    expensive, already-contracted part), then the spans collapse to ONE
    row per affected doc via a doc-keyed collect_list whose size is
    bounded by n_tokens/k for that document (the same per-doc
    discipline as the island-merge window -- never corpus-sized); the
    subtraction itself is a NARROW gap-slice reconstruction over each
    doc's token array: the SORTED disjoint islands induce m+1 inter-span
    gaps, and retained = flatten(slice(toks, gap_start, gap_len) per
    gap) -- O(tokens + spans) per document (each retained token copied
    once, each span visited once; a position-indexed exists-probe
    filter would be O(tokens * spans) and a planted many-span bomb doc
    made that quadratic blowup measurable), whole-stage codegen, zero
    Python, zero explode -- and the join back
    to the corpus is KEYED on the doc id with an explicit shuffle_hash
    HINT: the per-doc span table is O(affected documents) -- at dedup-
    literature duplication rates a constant FRACTION of the corpus,
    data-sized -- while the static planner's post-aggregate estimate
    stays small, exactly the broadcast-OOM trap the r13 100x probe
    caught on the span hit joins (the hint pins a shuffle-hash join at
    every scale; the doc-keyed corpus shuffle it costs is the safe
    price, and bucketing both sides by doc id pre-colocates it away).
    Nothing shuffles wider than O(spans) + that one corpus-keyed join;
    no window over a data-sized unpartitioned relation; nothing
    collects.
    """
    spans = exact_substring_spans(
        df, text_col=text_col, id_col=id_col, k=k, min_df=min_df
    )
    per_doc = spans.groupBy(F.col(id_col).alias("__rid")).agg(
        F.sort_array(
            F.collect_list(F.struct("span_start", "span_len"))
        ).alias("__spans"),
        F.sum("span_len").cast("bigint").alias("__n_removed"),
    )
    base = df.select(
        F.col(id_col).alias("__rid"),
        *[F.col(c) for c in keep_cols],
        tokens(text_col).alias("__toks"),
    )
    j = base.join(per_doc.hint("shuffle_hash"), "__rid", "left")
    # gap-slice reconstruction: sorted disjoint islands -> m+1 gaps
    # [1, s_1-1], [e_1+1, s_2-1], ..., [e_m+1, n]; empty gaps slice to
    # zero length (greatest(len, 0)) so adjacent/leading/trailing spans
    # need no special case
    sp = F.coalesce(
        F.col("__spans"),
        F.expr(
            "CAST(array() AS array<struct<span_start:bigint,"
            "span_len:bigint>>)"
        ),
    )
    gap_starts = F.concat(
        F.array(F.lit(1).cast("bigint")),
        F.transform(sp, lambda s: s["span_start"] + s["span_len"]),
    )
    gap_stops = F.concat(
        F.transform(sp, lambda s: s["span_start"] - 1),
        F.array(F.size("__toks").cast("bigint")),
    )
    retained = F.flatten(
        F.zip_with(
            gap_starts,
            gap_stops,
            lambda a, b: F.slice(
                F.col("__toks"),
                a.cast("int"),
                F.greatest(b - a + 1, F.lit(0).cast("bigint")).cast("int"),
            ),
        )
    )
    return (
        j.select(
            "__rid",
            *keep_cols,
            F.size("__toks").cast("bigint").alias("n_tokens"),
            F.coalesce("__n_removed", F.lit(0))
            .cast("bigint")
            .alias("n_removed"),
            retained.alias("__ret"),
        )
        .select(
            F.col("__rid").alias(id_col),
            *keep_cols,
            "n_tokens",
            "n_removed",
            F.size("__ret").cast("bigint").alias("n_retained"),
            F.md5(F.concat_ws(" ", "__ret")).alias("retained_md5"),
        )
    )


def dupspan_coverage(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    min_df: int = 2,
) -> DataFrame:
    """Repeated-span ("boilerplate") coverage: for each document, the
    fraction of token positions covered by at least one word n-gram that
    occurs in >= ``min_df`` DISTINCT documents. This is the span-level
    duplication metric behind line/paragraph dedup in LLM corpus
    pipelines (C4 drops repeated lines; dedup studies report the share
    of each document covered by corpus-frequent spans) -- on corpora
    without line structure the n-gram span is the unit.

    Returns (id, n_tokens, n_covered, dup_coverage) with one row per
    input row, zero coverage for docs shorter than ``n`` tokens.

    Scale shape: positions explode to O(tokens) rows once; document
    frequency is one groupBy on the gram hash; the frequent-gram set is
    df >= min_df heavy hitters -- a small FRACTION, but of a data-sized
    gram space, so at 100 TB it is itself data-sized and the
    mark-covered join carries an explicit merge HINT instead of a
    forced broadcast (the exact_substring_spans finding, r13: the
    static planner's post-aggregate estimate stays under the broadcast
    threshold while the true set grows with the corpus, and a wrong
    static broadcast OOMs where a shuffle join survives; the explicit
    hint PINS shuffle-hash at every scale -- Spark honors it ahead of
    size-based broadcast selection even under AQE re-optimization --
    a trade measured acceptable at sf0.1).  The
    final per-doc rollup shuffles only covered positions. No all-pairs
    anything.
    """
    base = df.select(
        F.col(id_col).alias("id"),
        tokens(text_col).alias("__toks"),
    ).select(
        "id",
        F.size("__toks").cast("bigint").alias("n_tokens"),
        word_ngrams(F.col("__toks"), n=n, distinct=False).alias("__grams"),
    )
    # posexplode is 0-based; gram at pos p starts at 1-based token p+1
    # and covers positions p+1 .. p+n. posexplode_OUTER, deliberately:
    # for a plain (non-outer) Generate, InferFiltersFromGenerate infers
    # `size(grams) > 0` and pushes it below the rebalance exchange into
    # the scan -- re-evaluating the entire tokenize+shingle expression
    # per row in the (single-partition) scan stage. Outer explode infers
    # nothing; short docs surface as one null-gram row dropped by a
    # cheap attribute filter ABOVE the exchange. Measured at sf0.1:
    # 12.9s -> sub-second for the explode stage.
    g = base.select(
        "id", "n_tokens", F.posexplode_outer("__grams").alias("pos", "gram")
    ).filter(F.col("gram").isNotNull())
    freq = (
        g.groupBy("gram")
        .agg(F.count_distinct("id").alias("df"))
        .filter(F.col("df") >= min_df)
        .select("gram")
    )
    cov = (
        g.join(freq.hint("shuffle_hash"), "gram")
        .select(
            "id",
            F.explode(
                F.sequence(F.col("pos") + 1, F.col("pos") + n)
            ).alias("p"),
        )
        .groupBy("id")
        .agg(F.count_distinct("p").cast("bigint").alias("n_covered"))
    )
    return (
        base.select("id", "n_tokens")
        .join(cov, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            F.coalesce("n_covered", F.lit(0).cast("bigint")).alias("n_covered"),
            (
                F.coalesce("n_covered", F.lit(0)).cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("dup_coverage"),
        )
    )
