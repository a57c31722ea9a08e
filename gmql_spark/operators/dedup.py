"""Deduplication operators for large-scale text corpora.

Beyond the reference's operator set (GMQL dedups only whole rows in
DISTINCT join variants, ``GenometricJoin.scala:205-233``); these are the
training-data-pipeline staples. All variants are pure DataFrame ops —
hashing via ``xxhash64``/``md5`` (JVM), set ops via explode + groupBy —
so they scale with the shuffle, no Python in the hot path.

- exact_dedup: hash-groupBy (one shuffle on the text hash).
- ngram_jaccard_pairs: exact word-n-gram Jaccard via shingle equi-join
  (the verification step of any MinHash pipeline; also usable alone at
  moderate scale).
- minhash_lsh_pairs: shingle -> K minhash perms -> B bands -> bucket
  equi-join; candidates verified with the estimated Jaccard
  (#equal perms / K). The classic scale path: candidate generation cost
  ~ #near-duplicate pairs, not O(n^2).
- simhash_64: 64-bit SimHash fingerprints + banded near-dup pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """One keeper (min id) per distinct text; n_dups = group size.

    Groups by ``(length, xxhash64, md5)`` of the text instead of the raw
    text, so the shuffle key is ~50 bytes per row instead of the whole
    document (at corpus scale that cuts shuffle bytes by roughly the
    mean document length). A false merge needs a simultaneous md5 AND
    xxhash64 AND length collision — negligible, and the operator's
    output key is already md5(text)."""
    return (
        df.groupBy(
            F.length(text_col).alias("_len"),
            F.xxhash64(F.col(text_col)).alias("_xx"),
            F.md5(F.col(text_col)).alias("text_hash"),
        )
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
        .select("text_hash", "keep_id", "n_dups")
    )


def word_ngrams(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3):
    """Distinct word n-gram shingles per document: (id, shingle)."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    shingle = lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))  # noqa: E731
    return (
        df.filter(F.size(toks) >= n)
        .select(F.col(id_col), F.explode(F.transform(idx, shingle)).alias("shingle"))
        .filter(F.length("shingle") > 0)
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_doc_count: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similar pairs (id_a < id_b, jaccard >= t).

    shingle equi-join -> common count; sizes joined in; jaccard =
    common / (|A| + |B| - common), computed as double division of exact
    longs (deterministic).

    Scale note: the shingle self-join is quadratic in per-shingle
    document frequency — a stopword trigram in k docs contributes k²
    candidate rows. ``max_doc_count`` drops shingles appearing in more
    than that many documents BEFORE the join (the standard hot-shingle
    cap), and the returned jaccard is then the jaccard OF THE CAPPED
    SHINGLE SETS (sizes and common both computed post-cap — similarity
    on the informative features, like stopword removal). Relative to
    the uncapped jaccard this can move EITHER way near the threshold:
    a hot shingle shared by the pair lowers it (recall loss), while a
    hot shingle present in only one doc shrinks that doc's size and
    raises it (possible false positive). Exact raw-jaccard semantics
    need ``max_doc_count=None`` (the gate's oracle-checked mode).
    Standalone corpus-scale runs should set it (e.g. 1000); as the
    verification stage of MinHash-LSH candidates it is unnecessary."""
    sh = word_ngrams(df, id_col, text_col, n)
    if max_doc_count is not None:
        freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
        hot = freq.filter(F.col("_df") > max_doc_count).select("shingle")
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    sh = sh.cache()
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, on="shingle")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    out = (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("id_a", "id_b", "n_common", "n_a", "n_b", "jaccard")


def hash64(col, seed, hash_fn: str = "xxhash64"):
    """64-bit hash of a column. ``xxhash64``: Spark-native (fast path).
    ``md5``: first 15 hex digits of md5(value#seed) as a 60-bit int —
    bit-identical in DuckDB (``('0x'||substr(md5(...),1,15))::BIGINT``),
    which makes MinHash/SimHash results exactly oracle-checkable."""
    c = F.col(col) if isinstance(col, str) else col
    if hash_fn == "xxhash64":
        return F.xxhash64(c, F.lit(seed))
    return F.conv(
        F.substring(F.md5(F.concat(c.cast("string"), F.lit(f"#{seed}"))), 1, 15), 16, 10
    ).cast("long")


def minhash_signatures(
    df: DataFrame,
    num_perm: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """K minhash values per doc: perm i = min over shingles of
    hash(shingle, seed=i). One explode + one groupBy with K min
    aggregates — all codegen."""
    sh = word_ngrams(df, id_col, text_col, n)
    aggs = [F.min(hash64("shingle", i, hash_fn)).alias(f"mh_{i}") for i in range(num_perm)]
    return sh.groupBy(id_col).agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    hash_fn: str = "xxhash64",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash LSH.

    B bands of R=K/B rows: docs sharing any band bucket become
    candidates; est_jaccard = fraction of equal minhash perms. Bucket
    join cost is proportional to true collisions (banding), not n^2.

    ``max_bucket_size`` is the hot-bucket guard for the degenerate
    case banding cannot help with: k docs with IDENTICAL signatures
    (usually exact duplicates) share every band bucket, so the
    self-join still fans out k^2 candidates. With the cap set, band
    buckets holding more than ``max_bucket_size`` docs are dropped
    (left_anti on a tiny aggregated bucket-size frame), bounding the
    per-bucket fan-out to cap^2 regardless of skew. Semantics: a pair
    is kept iff it shares at least one NON-oversized bucket — pairs
    reachable only through dropped buckets are lost, so run
    ``exact_dedup`` first (it collapses the identical-text groups that
    create oversized buckets, and those pairs are already known
    duplicates — losing them here costs nothing). Uncapped (None, the
    default and the oracle-gate mode) is exact."""
    if num_perm % bands:
        raise ValueError(
            f"num_perm ({num_perm}) must be a multiple of bands ({bands}): "
            "otherwise the bands cover only part of the signature"
        )
    rows = num_perm // bands
    sig = minhash_signatures(df, num_perm, id_col, text_col, n, hash_fn).cache()
    mh_cols = [f"mh_{i}" for i in range(num_perm)]
    if hash_fn == "xxhash64":
        band_cols = [
            F.xxhash64(*[F.col(mh_cols[b * rows + r]) for r in range(rows)], F.lit(b)).alias(
                "bucket"
            )
            for b in range(bands)
        ]
    else:
        band_cols = [
            hash64(
                F.concat_ws("|", *[F.col(mh_cols[b * rows + r]) for r in range(rows)]),
                f"band{b}",
                hash_fn,
            ).alias("bucket")
            for b in range(bands)
        ]
    buckets = sig.select(
        F.col(id_col),
        F.posexplode(F.array(*band_cols)).alias("band", "bucket"),
    )
    if max_bucket_size is not None:
        oversized = (
            buckets.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("_bn"))
            .filter(F.col("_bn") > max_bucket_size)
            .select("band", "bucket")
        )
        buckets = buckets.join(oversized, on=["band", "bucket"], how="left_anti")
    a, b_ = buckets.alias("a"), buckets.alias("b")
    cands = (
        a.join(b_, on=["band", "bucket"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    sa = sig.select(F.col(id_col).alias("id_a"), *[F.col(c).alias(f"a_{c}") for c in mh_cols])
    sb = sig.select(F.col(id_col).alias("id_b"), *[F.col(c).alias(f"b_{c}") for c in mh_cols])
    eq = sum(F.when(F.col(f"a_{c}") == F.col(f"b_{c}"), 1).otherwise(0) for c in mh_cols)
    out = (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("est_jaccard", (eq / F.lit(float(num_perm))).cast("double"))
        .filter(F.col("est_jaccard") >= threshold)
    )
    return out.select("id_a", "id_b", "est_jaccard")


def simhash_64(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", hash_fn: str = "xxhash64"
) -> DataFrame:
    """SimHash per doc from token hashes: bit b of the fingerprint is the
    sign of sum over tokens of ±1 for that bit. Conditional-sum
    aggregates, fully codegen. 64 bits with xxhash64; 60 bits in md5
    mode (the portable hash is 60-bit, and staying under the sign bit
    keeps the SQL-oracle arithmetic overflow-free)."""
    n_bits = 64 if hash_fn == "xxhash64" else 60
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    t = df.select(F.col(id_col), F.explode(toks).alias("tok")).filter(F.length("tok") > 0)
    h = F.xxhash64("tok") if hash_fn == "xxhash64" else hash64("tok", "sim", hash_fn)
    aggs = [
        F.sum(
            F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s_{b}")
        for b in range(n_bits)
    ]
    per_doc = t.groupBy(id_col).agg(*aggs)
    fp = None
    for b in range(n_bits):
        bit = F.when(F.col(f"s_{b}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, b)
        fp = term if fp is None else fp.bitwiseXOR(term)  # disjoint bits: xor == or
    return per_doc.select(F.col(id_col), fp.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= d via 4-chunk banding
    (pigeonhole: d<=3 pairs share at least one of 4 chunks)."""
    chunk_bits = 16 if hash_fn == "xxhash64" else 15
    mask = (1 << chunk_bits) - 1
    fp = simhash_64(df, id_col, text_col, hash_fn).cache()
    bands = [
        (F.shiftright(F.col("simhash"), chunk_bits * i).bitwiseAND(F.lit(mask))).alias("chunk")
        for i in range(4)
    ]
    buckets = fp.select(F.col(id_col), "simhash", F.posexplode(F.array(*bands)).alias("band", "chunk"))
    a, b = buckets.alias("a"), buckets.alias("b")
    cands = (
        a.join(b, on=["band", "chunk"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cands.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def dedup_components(
    pairs: DataFrame,
    nodes: DataFrame | None = None,
    a: str = "id_a",
    b: str = "id_b",
    max_rounds: int = 50,
    method: str = "label",
) -> DataFrame:
    """Connected components over near-dup pairs: ``(id, component)``
    with ``component = min id in the component`` — the grouping step
    between pair generation (minhash/simhash/jaccard) and canonical-doc
    selection. GMQL has no transitive operator at all; this is the
    training-pipeline staple ("A~B, B~C ⇒ {A,B,C} are one duplicate
    cluster").

    Distributed min-label propagation: each round is one equi-join of
    the symmetrized edge list against current labels + a min hash-agg —
    all shuffles on the id, no driver data. Rounds = graph diameter
    (near-dup clusters are shallow; bounded by ``max_rounds``). Per
    round the lineage is truncated with ``localCheckpoint`` — plain
    persist leaves the plan growing one join deeper per round until
    plan stringification blows up (same lesson as nearest_k's radius
    doubling). Convergence is detected by a changed-label count, an
    O(1)-row action per round.

    ``nodes`` (one id column named like ``a``) adds isolated documents
    as singleton components; defaults to the ids appearing in pairs.

    ``method``: ``'label'`` (default) is the min-label propagation above
    — rounds = component DIAMETER, the right trade for shallow near-dup
    clusters. ``'star'`` is the large-star/small-star alternation
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    O(log n) rounds regardless of diameter, the opt-in for deep chains
    (long reply-chains, chained boilerplate edits) where min-label's
    round bound fails. Both produce identical (id, component=min id)
    output (equality-tested on random graphs).
    """
    edges = (
        pairs.select(F.col(a).alias("u"), F.col(b).alias("v"))
        .unionByName(pairs.select(F.col(b).alias("u"), F.col(a).alias("v")))
        .distinct()
    )
    ids = edges.select(F.col("u").alias("id")).distinct()
    if nodes is not None:
        # ``nodes`` ADDS isolated ids (per the contract above) — it is
        # not a replacement universe: ids appearing in pairs must stay
        # in the label table even when the caller's nodes frame misses
        # them, else their clusters silently vanish AND edges through
        # them stop propagating labels
        ids = ids.unionByName(nodes.select(F.col(a).alias("id"))).distinct()
    if method == "star":
        return _components_star(edges, ids, max_rounds)
    if method != "label":
        raise ValueError("method must be label|star")
    labels = ids.withColumn("component", F.col("id")).localCheckpoint(eager=True)
    for _ in range(max_rounds):
        neighbor_min = (
            edges.join(
                labels.select(F.col("id").alias("v"), F.col("component").alias("_nc")),
                on="v",
            )
            .groupBy(F.col("u").alias("id"))
            .agg(F.min("_nc").alias("_nmin"))
        )
        nxt = (
            labels.join(neighbor_min, on="id", how="left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce(F.col("_nmin"), F.col("component"))
                ).alias("component"),
                (F.coalesce(F.col("_nmin"), F.col("component")) < F.col("component"))
                .alias("_chg"),
            )
        ).localCheckpoint(eager=True)
        changed = nxt.filter(F.col("_chg")).limit(1).count()
        labels = nxt.drop("_chg")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"dedup_components did not converge in {max_rounds} rounds "
            "(component diameter exceeds the bound); raise max_rounds"
        )
    return labels


def _components_star(edges: DataFrame, ids: DataFrame, max_rounds: int) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al. 2014):
    alternate
      large-star: every neighbor LARGER than u re-attaches to
                  min(N(u) ∪ {u}),
      small-star: u and its SMALLER neighbors all attach to that min,
    each an equi-join + min-agg shuffle. The edge set contracts toward
    per-component stars rooted at the min id in O(log n) rounds
    independent of diameter. Convergence = unchanged (count, hash-sum)
    of the directed edge set — an O(1)-row driver action per round;
    lineage truncated per round with localCheckpoint like the min-label
    loop."""
    # direct every edge large -> small so the invariant v < u holds
    ed = (
        edges.filter(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev_sig = None
    for _ in range(max_rounds):
        # large-star over the symmetrized neighborhood
        sym = ed.unionByName(
            ed.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m = (
            sym.groupBy("u")
            .agg(F.min("v").alias("_mv"))
            .select("u", F.least("u", "_mv").alias("_m"))
        )
        ed = (
            sym.filter(F.col("v") > F.col("u"))
            .join(m, on="u")
            .select(F.col("v").alias("u"), F.col("_m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star (edges are large->small already: v < u)
        m2 = ed.groupBy("u").agg(F.min("v").alias("_mv"))
        ed = (
            ed.join(m2, on="u")
            .select(F.col("v").alias("u"), F.col("_mv").alias("v"))
            .unionByName(m2.select("u", F.col("_mv").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        sig = ed.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("u", "v")).alias("h"),  # overflow-free set hash
        ).collect()[0]
        if prev_sig == (sig.n, sig.h):
            break
        prev_sig = (sig.n, sig.h)
    else:
        raise RuntimeError(
            f"star components did not converge in {max_rounds} rounds"
        )
    labels = ed.select(F.col("u").alias("id"), F.col("v").alias("component"))
    return (
        ids.join(labels, on="id", how="left")
        .select("id", F.coalesce("component", "id").alias("component"))
    )


def canonical_docs(
    docs: DataFrame,
    components: DataFrame,
    id_col: str = "doc_id",
    order_col: str | None = None,
) -> DataFrame:
    """Pick one canonical document per duplicate component: the longest
    text (ties: min id), or by ``order_col`` descending. Docs without a
    component row are their own canonical. Output: docs + ``component``
    + ``is_canonical``.

    Skew-proof by construction: the winner per component is a
    ``max_by`` AGGREGATE (partial map-side combine) joined back, not a
    per-component window — a degenerate mega-component (the classic
    empty-string/boilerplate cluster in real corpora) costs a combined
    hash-agg, never one single-partition sort. Pinned by a 10^6-row
    single-component test."""
    from pyspark.sql.types import NumericType

    joined = docs.join(
        components.withColumnRenamed("id", id_col), on=id_col, how="left"
    ).withColumn("component", F.coalesce(F.col("component"), F.col(id_col)))
    rank_by = (
        F.col(order_col) if order_col is not None else F.length("text")
    )
    if isinstance(docs.schema[id_col].dataType, NumericType):
        # one pass: max of (rank, -id) lexicographic == rank desc, id asc
        win = joined.groupBy("component").agg(
            F.max_by(
                F.col(id_col),
                F.struct(rank_by.alias("r"), (-F.col(id_col)).alias("t")),
            ).alias("_win_id")
        )
    else:
        # non-negatable ids: two-phase (max rank, then min id among ties)
        best = joined.groupBy("component").agg(F.max(rank_by).alias("_r"))
        win = (
            joined.join(best, on="component")
            .filter(rank_by.eqNullSafe(F.col("_r")))
            .groupBy("component")
            .agg(F.min(F.col(id_col)).alias("_win_id"))
        )
    cols = joined.columns
    return (
        joined.join(win, on="component")
        .withColumn("is_canonical", F.col(id_col) == F.col("_win_id"))
        .select(*cols, "is_canonical")
    )
