"""Deduplication operators for web-scale corpora.

Four families (all distributed, shuffle-aware):

- **exact**: hash-groupBy on normalized text — one shuffle keyed by the hash; the
  canonical survivor is min(doc_id) (deterministic).
- **n-gram Jaccard**: shingle → explode → self-equi-join on shingle → per-pair
  intersection counts → Jaccard = ∩ / (|A|+|B|−∩). The join is on gram (never a
  cartesian); hot grams can be frequency-capped.
- **MinHash + LSH**: signature = per-hash-function MIN over shingle hashes. Two
  hash families: ``xxhash64`` (default — int signatures, one JVM hash per gram
  then one 8-byte rehash per hash fn; the production path) and ``md5`` —
  *portable*: identical hex strings in Spark and DuckDB, so the driver's oracle
  reproduces signatures bit-for-bit (kept solely for that oracle). Banding
  buckets docs by (band_idx, band_value); candidate pairs share ≥1 bucket.
- **SimHash**: 64-bit sign-aggregated token hashes; near-dups = equal simhash,
  or Hamming distance ≤ r via banding (pigeonhole: split 64 bits into
  ``bands > r`` blocks — any pair within distance r agrees exactly on ≥1 block).

At the 10^12-doc regime: exact + LSH are the scale paths (linear, bounded fan-out);
full Jaccard runs only on LSH candidates. Embedding near-dup lives in similarity.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .text import tokens, word_ngrams

# 128-bit content fingerprint (+ length) — the SAME key streaming_dedup_exact
# (streaming/updates.py) uses for bounded state. Batch exact dedup and the
# fuzzy rep mapping group/join on THIS instead of the raw text, so at corpus
# scale the shuffle moves ~20 bytes of key per doc instead of the full document
# bytes (the dominant avoidable cost of text-keyed dedup at 100 TB). A false
# merge of two DISTINCT texts requires both 64-bit hashes AND the lengths to
# collide simultaneously: P ≈ pairs·2⁻¹²⁸ — negligible at any corpus size.
_FP_SEED = 0x5EED
_FP_NAMES = ["_fp1", "_fp2", "_fpl"]

# connected_components: edge count under which the whole clustering runs as a
# driver-local union-find over the (already materialized) edge list instead of
# the distributed fixpoint loop. ≤ 16 MB of (u, v) longs cross to the driver
# at the bound — the "tiny driver-bounded summary" class (hot-key tables,
# centroid pulls) — replacing 3-5 small shuffle jobs whose per-job latency
# dominates at this size. Verified near-dup edge sets are a minuscule
# fraction of corpus size; graphs above the bound keep the distributed loop.
CC_DRIVER_MAX_EDGES = 1_000_000

# fuzzy pipeline: distinct-text count under which the fixed-width rep table
# (128-bit fingerprint + length + min doc id, ~32 bytes/row → ≤ ~64 MB built
# relation at the bound) is BROADCAST into the exact-collapse semi-join and
# the final assignment join, so the text-bearing corpus is never shuffled by
# either (guide §3.1: broadcast replaces a shuffle of the large side). Above
# the bound both joins fall back to the shuffle plan. Same driver-known-count
# gate pattern as CC_DRIVER_MAX_EDGES.
REP_BROADCAST_MAX_ROWS = 2_000_000


def _spread_small_scan(docs: DataFrame) -> DataFrame:
    """Round-robin repartition an under-partitioned input up to the session's
    default parallelism (guide §2.5's input-skew fix: a corpus that arrives
    as one small parquet file otherwise serializes the whole tokenize/explode
    stage on a single core — measured 1.9 s single-task for a 5k-doc scan
    that takes ~0.3 s spread). No-op when the scan already has that many
    partitions, so cluster-scale inputs never pay the extra exchange; the
    repartitioned bytes are bounded by the partition deficit (small by
    construction)."""
    target = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() >= target:
        return docs
    return docs.repartition(target)


def _fp_cols(text_col: str) -> list[Column]:
    # seed literal FIRST: Spark's XxHash64 folds args left-to-right with the
    # running hash as seed — (text, lit) would make _fp2 a pure function of
    # _fp1; (lit, text) hashes under a genuinely independent seed
    return [
        F.xxhash64(F.col(text_col)).alias("_fp1"),
        F.xxhash64(F.lit(_FP_SEED), F.col(text_col)).alias("_fp2"),
        F.length(F.col(text_col)).alias("_fpl"),
    ]


def _group_keys(docs: DataFrame, text_col: str, key: str) -> tuple[DataFrame, list[str]]:
    """(docs-with-key-columns, key-column-names) for the chosen keying mode.

    key='fingerprint' (default, the scale path): fixed-width 128-bit+length
    content key. key='text': group on the raw text — the paranoid byte-exact
    path (shuffles full document bytes as key material; identical results
    unless a 128-bit fingerprint collision occurs).
    """
    if key == "text":
        return docs, [text_col]
    if key != "fingerprint":
        raise ValueError(f"unknown key mode: {key!r} (use 'fingerprint' or 'text')")
    return docs.select("*", *_fp_cols(text_col)), list(_FP_NAMES)


def exact_duplicates(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text",
    key: str = "fingerprint",
) -> DataFrame:
    """Groups of byte-identical texts: (canonical_id, dup_count), dup_count ≥ 2."""
    keyed, keys = _group_keys(docs, text_col, key)
    return (
        keyed.groupBy(*keys)
        .agg(F.min(id_col).alias("canonical_id"), F.count("*").alias("dup_count"))
        .filter(F.col("dup_count") >= 2)
        .select("canonical_id", "dup_count")
    )


def dedup_exact(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text",
    key: str = "fingerprint",
) -> DataFrame:
    """Keep one row per distinct text — min(id) survivor, deterministic.

    The shuffle (groupBy + semi-join) is keyed on the 128-bit fingerprint by
    default, never the document bytes; pass ``key='text'`` for the byte-exact
    paranoid path.
    """
    keyed, keys = _group_keys(docs, text_col, key)
    w_ids = keyed.groupBy(*keys).agg(F.min(id_col).alias(id_col))
    out = keyed.join(w_ids, keys + [id_col], "left_semi")
    return out.drop(*_FP_NAMES) if key == "fingerprint" else out


def ngram_jaccard_pairs(
    docs: DataFrame,
    *,
    n: int = 3,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_doc_freq: int | None = None,
    hash_grams: bool = False,
) -> DataFrame:
    """Candidate pairs (id_a < id_b) with word-n-gram Jaccard ≥ threshold.

    Shuffle profile: one explode (docs × grams), one equi-join on gram, one
    groupBy pair. Without a cap the per-doc gram counts come straight from
    ``size(word_ngrams(...))`` — no extra explode pass for the sizes side.

    Skew guard (``max_doc_freq``): a gram appearing in d docs contributes
    O(d²) join rows — Zipf-hot grams ("of the and") turn the equi-join
    quadratic. With ``max_doc_freq`` set, a document-frequency pre-pass drops
    grams appearing in more than that many docs from BOTH intersection and
    union (sizes are computed after the filter), i.e. Jaccard over the
    capped shingle space — the standard stop-shingle treatment, exactly
    reproducible in SQL with the same HAVING clause. Bounds worst-case join
    fan-out at ``max_doc_freq²`` rows per gram regardless of corpus size.

    ``hash_grams``: join/shuffle on ``xxhash64(gram)`` longs instead of gram
    strings — 8-byte keys instead of arbitrary-length text. Jaccard values are
    identical up to 64-bit collisions (P ≈ n_grams²·2⁻⁶⁴ — negligible at any
    scale this runs at); leave off for the bit-exact oracle path.
    """
    gram_arr = word_ngrams(F.col(text_col), n)
    grams = _spread_small_scan(docs).select(
        F.col(id_col).alias("id"), F.explode(gram_arr).alias("gram")
    )
    if hash_grams:
        grams = grams.select("id", F.xxhash64("gram").alias("gram"))
    if max_doc_freq is not None:
        # the capped path consumes the exploded gram table through THREE
        # distinct plans (hot-gram count, the join's exchange, the sizes
        # exchange) — unlike the uncapped self-join (identical sides →
        # ReusedExchange), nothing upstream is shared, so the tokenize+explode
        # would run ~3×. One eager materialization (the same rows the join
        # shuffles anyway, disk-backed) cuts it: interleaved A/B at sf0.1,
        # hash_grams=True: 8.4 s → 3.6 s.
        grams = grams.localCheckpoint(eager=True)
        grams = _drop_hot_grams(grams, max_doc_freq)
        sizes = grams.groupBy("id").agg(F.count("*").alias("n_grams"))
    else:
        # per-doc gram count == array size: skip the whole sizes explode pass
        sizes = docs.select(F.col(id_col).alias("id"), F.size(gram_arr).alias("n_grams"))
    return _jaccard_join(grams, sizes, threshold)


def _drop_hot_grams(grams: DataFrame, max_doc_freq: int) -> DataFrame:
    # grams are distinct per doc (word_ngrams dedupes), so count(*) = doc freq.
    hot = (
        grams.groupBy("gram")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > max_doc_freq)
        .select("gram")
    )
    return grams.join(F.broadcast(hot), "gram", "left_anti")


def _jaccard_join(grams: DataFrame, sizes: DataFrame, threshold: float) -> DataFrame:
    """(id_a, id_b, jaccard ≥ threshold) from exploded (id, gram) + per-doc sizes."""
    a = grams.alias("a")
    b = grams.alias("b")
    inter = (
        a.join(b, "gram")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_grams", "na"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_grams", "nb"), "id_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def hashed_grams(
    docs: DataFrame, *, n: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exploded (id, gram) with 8-byte xxhash64 gram keys — the production
    Jaccard substrate, and the materializable artifact its DuckDB oracle
    replays from (everything downstream of the hash function is plain SQL)."""
    gram_arr = word_ngrams(F.col(text_col), n)
    return (
        _spread_small_scan(docs)
        .select(F.col(id_col).alias("id"), F.explode(gram_arr).alias("gram"))
        .select("id", F.xxhash64("gram").alias("gram"))
    )


def jaccard_pairs_from_grams(
    grams: DataFrame, *, threshold: float = 0.8, max_doc_freq: int | None = None
) -> DataFrame:
    """Jaccard candidate pairs from a pre-built (id, gram) table (e.g. a
    :func:`hashed_grams` artifact): hot-gram cap → per-doc sizes → gram
    equi-join → threshold. Identical semantics to :func:`ngram_jaccard_pairs`
    with ``max_doc_freq`` set, over any gram representation."""
    if max_doc_freq is not None:
        grams = _drop_hot_grams(grams, max_doc_freq)
    sizes = grams.groupBy("id").agg(F.count("*").alias("n_grams"))
    return _jaccard_join(grams, sizes, threshold)


def minhash_signature(
    text: Column, *, n: int = 3, num_hashes: int = 16, hash_family: str = "xxhash64"
) -> Column:
    """MinHash signature column.

    hash_family='xxhash64' (default, production): element i =
    min(xxhash64(xxhash64(gram), i)) as array<bigint> — integer min, no string
    allocation; reference for banding semantics: the md5 variant proven against
    the DuckDB oracle (dedup_minhash_lsh).
    hash_family='md5': element i = min(md5(gram || ':' || i)) as array<string> —
    portable across Spark and DuckDB (both lowercase hex), kept SOLELY so the
    correctness oracle can verify signatures bit-for-bit.

    Note: in the column form the per-gram base hash is inlined per hash fn;
    :func:`minhash_lsh_buckets` materializes it once per doc — use that for the
    hot path.
    """
    grams = word_ngrams(text, n)

    # closure factories: Spark binds a 2-param lambda as (element, index), so the
    # hash index must be captured via def, never as a lambda default arg
    def _md5_min(i: int):
        return F.array_min(F.transform(grams, lambda g: F.md5(F.concat(g, F.lit(f":{i}")))))

    if hash_family == "md5":
        return F.array(*[_md5_min(i) for i in range(num_hashes)])
    if hash_family != "xxhash64":
        raise ValueError(f"unknown hash_family: {hash_family!r}")
    base = F.transform(grams, lambda g: F.xxhash64(g))

    def _xx_min(i: int):
        return F.array_min(F.transform(base, lambda h: F.xxhash64(h, F.lit(i))))

    return F.array(*[_xx_min(i) for i in range(num_hashes)])


def minhash_lsh_buckets(
    docs: DataFrame,
    *,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """(id, band, bucket) rows: docs sharing a bucket are near-dup candidates.

    Fast path (default 'xxhash64'): NO shingle strings are ever built — tokens
    are xxhash64'd once, the shingle hash is xxhash64 over the n token LONGS
    (8·n bytes instead of a concat'd string), distinct'd, then per hash fn i the
    min of xxhash64(shingle_hash, i); bucket = one xxhash64 over the band's
    longs (bigint bucket). Each projection stage is materialized as a column so
    whole-stage codegen computes it once per row, not once per consuming
    expression. Shingle identity matches word_ngrams' distinct word-n-grams
    (modulo 64-bit hash collisions).

    'md5' path: string shingles, hex-string mins, bucket = concat_ws of the
    band slice (string bucket) — bit-for-bit reproducible in DuckDB; used by
    the oracle query only.
    """
    d = minhash_signatures_df(
        docs, n=n, num_hashes=num_hashes, id_col=id_col, text_col=text_col,
        hash_family=hash_family,
    )
    return lsh_buckets_from_signatures(
        d, num_hashes=num_hashes, bands=bands, hash_family=hash_family
    )


def minhash_signatures_df(
    docs: DataFrame,
    *,
    n: int = 3,
    num_hashes: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """(id, sig) MinHash signature table — the INDEX artifact of the dedup
    pipeline. Materialized to parquet, it is the trusted input the DuckDB
    oracle replays banding/pair-generation from (the only step SQL cannot
    reproduce is the xxhash64 itself). sig is array<bigint> ('xxhash64') or
    array<string> ('md5')."""

    def _md5_min(i: int):
        # one-arg lambda only: a 2-param lambda would be bound as (element, index)
        return F.array_min(F.transform("grams", lambda g: F.md5(F.concat(g, F.lit(f":{i}")))))

    if hash_family == "md5":
        # materialize grams ONCE as a column — inlining word_ngrams into each of
        # the num_hashes min-hash expressions would re-tokenize per hash fn
        grams_df = docs.select(
            F.col(id_col).alias("id"), word_ngrams(F.col(text_col), n).alias("grams")
        ).filter(F.size("grams") > 0)
        return grams_df.select(
            "id",
            F.array(*[_md5_min(i) for i in range(num_hashes)]).alias("sig"),
        )
    if hash_family != "xxhash64":
        raise ValueError(f"unknown hash_family: {hash_family!r}")
    # tokens are hashed once in the JVM (codegen string hashing); the shingle
    # fold + distinct + per-hash-fn min run vectorized in the Arrow stage,
    # bit-identical to the former interpreted HOF expression (test-locked)
    toks_df = docs.select(
        F.col(id_col).alias("id"),
        F.transform(tokens(F.col(text_col)), lambda t: F.xxhash64(t)).alias("th"),
    ).filter(F.size("th") >= n)
    return _minhash_sigs_arrow(toks_df, n=n, num_hashes=num_hashes)


def lsh_buckets_from_signatures(
    sig_df: DataFrame, *, num_hashes: int = 16, bands: int = 4,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """(id, band, bucket) banding over a (id, sig) signature table.

    'xxhash64': bucket = one xxhash64 over the band's longs (8-byte bucket on
    the shuffle — two docs share a bucket iff their band slices are equal,
    modulo 64-bit collisions). 'md5': bucket = concat_ws of the band's hex
    strings (bit-equal band slices, portable to the SQL oracle).

    The input may be an externally-loaded artifact, so ``num_hashes`` is
    validated against the data: ``num_hashes % bands != 0`` raises at plan
    build, and a row whose signature length != ``num_hashes`` fails the job
    (element_at past the array end would otherwise yield NULL in non-ANSI mode
    and silently collapse every doc into one bucket per band)."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes={num_hashes} not divisible by bands={bands}"
        )
    rows_per_band = num_hashes // bands
    if hash_family == "md5":
        bands_arr = F.array(
            *[
                F.struct(
                    F.lit(bi).alias("band"),
                    F.concat_ws(
                        "|", F.slice("sig", bi * rows_per_band + 1, rows_per_band)
                    ).alias("bucket"),
                )
                for bi in range(bands)
            ]
        )
    elif hash_family == "xxhash64":
        bands_arr = F.array(
            *[
                F.struct(
                    F.lit(bi).alias("band"),
                    F.xxhash64(
                        *[F.element_at("sig", bi * rows_per_band + k + 1) for k in range(rows_per_band)]
                    ).alias("bucket"),
                )
                for bi in range(bands)
            ]
        )
    else:
        raise ValueError(f"unknown hash_family: {hash_family!r}")
    checked = F.when(F.size("sig") == num_hashes, bands_arr).otherwise(
        F.raise_error(
            F.concat(
                F.lit("lsh_buckets_from_signatures: signature length "),
                F.size("sig").cast("string"),
                F.lit(f" != num_hashes={num_hashes}"),
            )
        )
    )
    return sig_df.select("id", F.explode(checked).alias("bb")).select(
        "id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def _xx64_numpy():
    """Vectorized numpy replication of Spark's XXH64 primitives (the
    ``xxhash64`` expression, seed 42): ``xx_long(x, seed)`` = hash of one
    LongType child, ``xx_int(i, seed)`` = hash of one IntegerType child; a
    multi-child ``xxhash64(a, b, ...)`` folds left-to-right with the running
    hash as seed. Verified bit-equal against the Spark expression for single
    longs, 3-long folds, and long+int-literal folds (1000 random values
    each). All arithmetic is wrap-around uint64, matching Java longs."""
    import numpy as np

    P1 = np.uint64(0x9E3779B185EBCA87)
    P2 = np.uint64(0xC2B2AE3D27D4EB4F)
    P3 = np.uint64(0x165667B19E3779F9)
    P4 = np.uint64(0x85EBCA77C2B2AE63)
    P5 = np.uint64(0x27D4EB2F165667C5)
    U = np.uint64

    def rotl(x, r):
        return (x << U(r)) | (x >> U(64 - r))

    def fmix(h):
        h ^= h >> U(33)
        h *= P2
        h ^= h >> U(29)
        h *= P3
        h ^= h >> U(32)
        return h

    def xx_long(x, seed):
        h = seed + P5 + U(8)
        h ^= rotl(x * P2, 31) * P1
        h = rotl(h, 27) * P1 + P4
        return fmix(h)

    def xx_int(i, seed):
        h = seed + P5 + U(4)
        h ^= U(i & 0xFFFFFFFF) * P1
        h = rotl(h, 23) * P2 + P3
        return fmix(h)

    return xx_long, xx_int


def _minhash_sigs_arrow(th_df: DataFrame, *, n: int, num_hashes: int) -> DataFrame:
    """(id, sig) from an (id, th) token-hash table — the vectorized Arrow
    stage of the xxhash64 ``minhash_signatures_df`` path.

    Computes, BIT-IDENTICALLY to the JVM higher-order expression it replaces
    (equality test-locked on a generated corpus): per doc the n-token shingle
    hashes ``xxhash64(th[i..i+n-1])`` (left fold, seed 42), the distinct set,
    and per hash function i the signed min of ``xxhash64(h, lit(i))``. The
    JVM expression evaluated interpreted (~2 s per execution at 950k reps);
    here each batch is ~15 numpy passes: one concatenated shingle fold,
    one lexsort dedup per (doc, hash), one ``minimum.reduceat`` per hash
    function (guide §4.2: batch work belongs in vectorized native code).
    Every input doc must have ≥ n token hashes (callers filter first)."""
    import numpy as np
    import pandas as pd

    xx_long, xx_int = _xx64_numpy()
    U = np.uint64

    def kernel(it):
        for pdf in it:
            nd = len(pdf)
            if nd == 0:
                continue
            arrs = [np.asarray(t, dtype=np.int64) for t in pdf["th"]]
            lens = np.array([a.size for a in arrs], dtype=np.int64)
            flat = np.concatenate(arrs).view(U)
            m = lens - (n - 1)  # shingles per doc (≥ 1 by the caller's filter)
            tot = int(m.sum())
            doc_of = np.repeat(np.arange(nd), m)
            m_start = np.concatenate(([0], np.cumsum(m)))[:-1]
            d_start = np.concatenate(([0], np.cumsum(lens)))[:-1]
            starts = (np.arange(tot) - m_start[doc_of]) + d_start[doc_of]
            h = xx_long(flat[starts], U(42))
            for k in range(1, n):
                h = xx_long(flat[starts + k], h)
            order = np.lexsort((h, doc_of))
            hs, ds = h[order], doc_of[order]
            keep = np.empty(tot, dtype=bool)
            keep[0] = True
            keep[1:] = (hs[1:] != hs[:-1]) | (ds[1:] != ds[:-1])
            hu, du = hs[keep], ds[keep]
            seg = np.flatnonzero(np.concatenate(([True], du[1:] != du[:-1])))
            base = xx_long(hu, U(42))
            sig = np.empty((num_hashes, nd), dtype=np.int64)
            for i in range(num_hashes):
                # Spark's array_min over BIGINT is SIGNED — compare as int64
                sig[i] = np.minimum.reduceat(xx_int(i, base).view(np.int64), seg)
            yield pd.DataFrame({"id": pdf["id"].to_numpy(), "sig": list(sig.T)})

    id_type = th_df.schema["id"].dataType.simpleString()
    return th_df.mapInPandas(kernel, f"id {id_type}, sig array<bigint>")


def _distinct_window_hashes(th_df: DataFrame, window: int) -> DataFrame:
    """(id, ws): per-doc DISTINCT 64-bit window hashes from an (id, th)
    token-hash table — the vectorized Arrow stage of the xxhash64
    ``duplicated_window_stats`` path.

    Each window's hash is a degree-``window`` polynomial combine (odd 64-bit
    multiplier, wrap-around arithmetic) of its token xxhash64s — computed as
    ``window`` shifted multiply-adds over the whole doc's hash array at numpy
    speed, then ``np.unique`` for the per-doc distinct. The JVM higher-order
    expression this replaces (one 16-arg xxhash64 + 16 ``element_at`` per
    window) evaluates interpreted, ~500 ns per element access — measured
    41.9 s for the 210k-doc bench corpus vs under 2 s for this stage (guide
    §4.2: batch work belongs in vectorized native code). Window identity is
    unchanged (injective in the token-hash sequence up to 64-bit collisions:
    the multiplier is odd, hence invertible mod 2⁶⁴); only the concrete hash
    VALUES differ from the old expression, which nothing persists or
    oracle-checks — the md5 oracle family has its own pure-JVM path."""
    import numpy as np
    import pandas as pd

    mult = np.uint64(0x9E3779B97F4A7C15)

    def kernel(it):
        for pdf in it:
            out = []
            for th in pdf["th"]:
                if th is None or len(th) < window:
                    out.append(np.empty(0, dtype=np.int64))
                    continue
                a = np.asarray(th, dtype=np.int64).astype(np.uint64)
                m = a.size - window + 1
                h = np.zeros(m, dtype=np.uint64)
                for k in range(window):
                    h *= mult
                    h += a[k : k + m]
                out.append(np.unique(h).astype(np.int64))
            yield pd.DataFrame({"id": pdf["id"].to_numpy(), "ws": out})

    id_type = th_df.schema["id"].dataType.simpleString()
    return th_df.mapInPandas(kernel, f"id {id_type}, ws array<bigint>")


def duplicated_window_stats(
    docs: DataFrame,
    *,
    window: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Substring-level duplication signal per doc (the "dedup the SPANS, not
    just the documents" measurement of Lee et al., *Deduplicating Training
    Data Makes Language Models Better*, ACL 2022 — public method): for every
    doc, the fraction of its distinct ``window``-token windows that also
    appear in at least one OTHER doc.

    Returns (id_col, n_windows, n_dup_windows, dup_fraction) for EVERY input
    doc (docs shorter than ``window`` tokens get 0/0/0.0). A window counts as
    duplicated when it occurs in ≥2 DISTINCT docs — internal repetition
    within one doc does not count, so boilerplate shared across a corpus is
    flagged while a chorus repeated inside one lyric is not.

    Plan shape (100 TB-safe): tokens are hashed once (JVM xxhash64), each
    window collapses to ONE 8-byte hash of its ``window`` token longs (never
    a window string — a vectorized polynomial combine in an Arrow stage, see
    :func:`_distinct_window_hashes`), windows are distinct'd per doc BEFORE
    the shuffle, and the only
    shuffles are a groupBy on the 8-byte window hash (count distinct docs —
    map-side partial) and the join back; no document bytes ever leave the
    scan. A window shared by millions of docs is just a big count — there is
    no pairwise blow-up anywhere. 'md5' hash family builds window STRINGS
    (md5 of the space-joined slice) — bit-reproducible in the SQL oracle,
    used by the oracle query only.
    """
    d = docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))
    if hash_family == "md5":
        ts = tokens(F.col("_t"))
        n = F.size(ts)
        win_expr = F.transform(
            F.sequence(F.lit(0), n - window),
            lambda i: F.md5(F.concat_ws(" ", F.slice(ts, i + 1, window))),
        )
        # sequence(0, negative) would run DOWNWARD (Spark infers step -1) —
        # guard short docs to an empty window set explicitly
        wins = d.select(
            "id",
            F.when(n >= window, F.array_distinct(win_expr))
            .otherwise(F.array().cast("array<string>"))
            .alias("ws"),
        )
    elif hash_family == "xxhash64":
        # tokens are hashed once in the JVM; the per-window combine + per-doc
        # distinct runs vectorized in the Arrow stage (short docs fall out
        # naturally: < window token hashes → empty ws)
        th_df = d.select(
            "id", F.transform(tokens(F.col("_t")), lambda t: F.xxhash64(t)).alias("th")
        )
        wins = _distinct_window_hashes(th_df, window)
    else:
        raise ValueError(f"unknown hash_family: {hash_family!r}")
    wins = wins.localCheckpoint(eager=False)
    exploded = wins.select("id", F.explode("ws").alias("wh"))
    # windows are DISTINCT per doc already (array_distinct above), so a plain
    # count(*) per window hash IS the distinct-doc count — no count_distinct
    # (two-phase dedup agg) needed on the hot shuffle
    shared = (
        exploded.groupBy("wh")
        .agg(F.count("*").alias("nd"))
        .filter(F.col("nd") > 1)
        .select("wh")
    )
    per_doc = (
        exploded.join(shared, "wh", "left_semi")
        .groupBy("id")
        .agg(F.count("*").alias("n_dup_windows"))
    )
    base = wins.select("id", F.size("ws").cast("long").alias("n_windows"))
    return (
        base.join(per_doc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_windows",
            F.coalesce("n_dup_windows", F.lit(0)).cast("long").alias("n_dup_windows"),
            F.when(
                F.col("n_windows") > 0,
                F.coalesce("n_dup_windows", F.lit(0)).cast("double")
                / F.col("n_windows").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_fraction"),
        )
    )


def candidate_pairs_from_buckets(
    b: DataFrame, *, max_bucket_size: int | None = None
) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing ≥1 (band, bucket), with the
    degenerate-bucket cap applied per bucket group.

    Plan shape (r7): ONE groupBy(band, bucket) → collect_list(id) → in-row
    pair generation over the sorted id array → distinct. The previous shape
    (hot-bucket count pre-pass + broadcast anti-join + bucket self-join)
    consumed the bucket table through two independent plans, so the whole
    upstream signature pipeline executed TWICE (once for the hot counts,
    once for the join) and the bucket rows crossed two exchanges. Now the
    upstream runs once, the cap is a free ``size(ids) <= cap`` filter on the
    aggregated row, and the only shuffles are the one groupBy plus the
    (candidate-sized) distinct. Pair sets are identical — a bucket's pair
    fan-out is the same k·(k−1)/2 rows whether emitted by a join or by the
    array transform, and buckets over the cap are dropped whole in both
    shapes. Interleaved A/B at 1.05M docs: 6.4-12.0 s → 4.3-9.2 s for the
    cands stage; equality verified (50,000 = 50,000 pairs, both cap modes).

    Memory note: an uncapped degenerate bucket materializes its id list as
    one array row (8·k bytes) — strictly smaller than the k² join rows the
    old shape produced, but still the reason production callers pass
    ``max_bucket_size``."""
    ids = b.groupBy("band", "bucket").agg(F.collect_list("id").alias("_ids"))
    if max_bucket_size is not None:
        ids = ids.filter(F.size("_ids") <= max_bucket_size)
    ids = ids.filter(F.size("_ids") >= 2).select(F.array_sort("_ids").alias("_ids"))
    n = F.size("_ids")
    pair_arr = F.flatten(
        F.transform(
            F.col("_ids"),
            lambda x, i: F.transform(
                F.slice(F.col("_ids"), i + 2, n - i - 1),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        ids.select(F.explode(pair_arr).alias("_p"))
        .select(F.col("_p.id_a").alias("id_a"), F.col("_p.id_b").alias("id_b"))
        .distinct()
    )


def minhash_candidate_pairs(
    docs: DataFrame, *, n: int = 3, num_hashes: int = 16, bands: int = 4,
    id_col: str = "doc_id", text_col: str = "text", hash_family: str = "xxhash64",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Distinct candidate pairs from shared LSH buckets (id_a < id_b).

    ``max_bucket_size``: degenerate-bucket guard (same pattern as
    simhash_hamming_pairs / embedding_near_dups) — buckets above the cap are
    dropped from candidate generation, bounding the self-join at
    max_bucket_size² rows per bucket. Recall loss is confined to pairs whose
    EVERY agreeing band is degenerate-hot.
    """
    b = minhash_lsh_buckets(
        docs, n=n, num_hashes=num_hashes, bands=bands,
        id_col=id_col, text_col=text_col, hash_family=hash_family,
    )
    return candidate_pairs_from_buckets(b, max_bucket_size=max_bucket_size)


def simhash64(text: Column) -> Column:
    """64-bit SimHash over tokens: bit j = sign of Σ_tokens (±1 by token-hash bit j).

    JVM-only: per-token xxhash64, per-bit contribution via shiftright/bit-and,
    aggregated with higher-order functions.

    Column-form caveat: the token-hash array is inlined into each of the 64
    per-bit aggregates (re-tokenize + re-hash ×64). The DataFrame functions
    below materialize it once via :func:`_simhash_from_token_hashes` — use
    those on the hot path.
    """
    return _simhash_from_token_hashes(F.transform(tokens(text), lambda t: F.xxhash64(t)))


def _simhash_from_token_hashes(th: Column) -> Column:
    """SimHash from a (possibly materialized) array<bigint> of token hashes."""

    def _bit_sum(j: int):
        # closure factory: Spark inspects lambda arity, so the bit index must be
        # captured outside the 2-arg merge lambda
        def merge(acc, h):
            return acc + F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, F.lit(1)).otherwise(F.lit(-1))

        return F.aggregate(th, F.lit(0).cast("long"), merge)

    bit_sums = [_bit_sum(j) for j in range(64)]
    out = F.lit(0).cast("long")
    for j, s in enumerate(bit_sums):
        out = out + F.when(s > 0, F.lit(1 << j if j < 63 else -(1 << 63)).cast("long")).otherwise(F.lit(0))
    return out


def simhash_table(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, simhash) with token hashes materialized ONCE per doc (the column form
    of simhash64 would re-tokenize and re-hash per bit — 64×). Materialized to
    parquet this is the artifact the DuckDB oracles replay grouping/banding
    from (everything downstream of the xxhash64-based simhash is plain SQL)."""
    th = docs.select(
        F.col(id_col).alias("id"),
        F.transform(tokens(F.col(text_col)), lambda t: F.xxhash64(t)).alias("_th"),
    )
    return th.select("id", _simhash_from_token_hashes(F.col("_th")).alias("simhash"))


def simhash_groups_from_table(sh: DataFrame) -> DataFrame:
    """Grouping stage of :func:`simhash_groups` over a (id, simhash) table."""
    return (
        sh.groupBy("simhash")
        .agg(F.count("*").alias("n"), F.min("id").alias("canonical_id"))
        .filter(F.col("n") >= 2)
    )


def simhash_groups(docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Docs grouped by identical simhash (near-dup clusters at Hamming distance 0)."""
    return simhash_groups_from_table(simhash_table(docs, id_col=id_col, text_col=text_col))


def simhash_hamming_pairs(
    docs: DataFrame,
    *,
    max_hamming: int = 2,
    bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs (id_a < id_b) at simhash Hamming distance ≤ ``max_hamming``.

    Pigeonhole banding: split the 64-bit simhash into ``bands`` equal blocks —
    any pair within Hamming distance r < bands differs in at most r blocks, so
    it agrees EXACTLY on ≥ bands − r ≥ 1 block. Candidate generation is a
    bucket equi-join on (band, block) — never all-pairs — then the exact
    Hamming distance ``bit_count(a XOR b)`` filters candidates. Guaranteed
    complete for r ≤ bands − 1 (this is the block-permutation scheme of
    Manku et al.'s simhash dedup, with blocks in place of rotations).

    Output: (id_a, id_b, hamming). Scale: each block bucket fans out like an
    LSH bucket; 2^(64/bands) distinct block values keep buckets tiny except for
    true near-dup clusters.

    Degenerate-block guard (``max_bucket_size``): a block value shared by d
    docs contributes O(d²) join rows — short/templated corpora can collapse a
    block (e.g. every doc's low bits zero) and make ONE bucket quadratic, the
    same failure mode the Jaccard path caps with ``max_doc_freq``. With the cap
    set, a pre-pass counts (band, block) bucket sizes and buckets above the cap
    are DROPPED from candidate generation (the other bands still recover a pair
    unless every one of its agreeing blocks is degenerate-hot — recall loss is
    confined to exactly the buckets that would not finish anyway). Bounds the
    worst-case join fan-out at max_bucket_size² rows per bucket.
    """
    sh = simhash_table(docs, id_col=id_col, text_col=text_col)
    return simhash_hamming_pairs_from_table(
        sh, max_hamming=max_hamming, bands=bands, max_bucket_size=max_bucket_size
    )


def simhash_hamming_pairs_from_table(
    sh: DataFrame,
    *,
    max_hamming: int = 2,
    bands: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Banding + Hamming verification over a pre-built (id, simhash) table
    (e.g. a :func:`simhash_table` parquet artifact) — see
    :func:`simhash_hamming_pairs` for semantics."""
    if max_bucket_size is not None:
        # capped path = three distinct consumers of the simhash lineage (hot
        # count, anti join, self join) with no shared exchange; the 64
        # per-bit aggregates would re-run per consumer. 16 bytes/doc
        # materialized; interleaved A/B at 105k docs: 7.4 → 5.6 s.
        sh = sh.localCheckpoint(eager=True)
    if not 0 <= max_hamming < bands:
        raise ValueError(f"need 0 <= max_hamming < bands (got r={max_hamming}, bands={bands})")
    if 64 % bands != 0:
        raise ValueError(f"bands must divide 64 (got {bands})")
    block_bits = 64 // bands
    mask = F.lit((1 << block_bits) - 1) if block_bits < 64 else F.lit(-1)

    blocks_arr = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.shiftrightunsigned("simhash", bi * block_bits).bitwiseAND(mask).alias("block"),
            )
            for bi in range(bands)
        ]
    )
    b = sh.select("id", "simhash", F.explode(blocks_arr).alias("bb")).select(
        "id", "simhash", F.col("bb.band").alias("band"), F.col("bb.block").alias("block")
    )
    if max_bucket_size is not None:
        hot = (
            b.groupBy("band", "block")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") > max_bucket_size)
            .select("band", "block")
        )
        b = b.join(F.broadcast(hot), ["band", "block"], "left_anti")
    a, c = b.alias("a"), b.alias("b")
    return (
        a.join(c, ["band", "block"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def _hadoop_fs(spark, path: str):
    """(FileSystem, Path) for ``path`` via Spark's Hadoop conf — the fence
    probes below work on ANY Spark filesystem (HDFS/S3A/local), not just the
    driver's local disk."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def _cc_driver_local(edges: DataFrame, metrics: list | None = None) -> DataFrame:
    """Driver-local union-find over a MATERIALIZED (u, v) edge table — the
    sub-:data:`CC_DRIVER_MAX_EDGES` fast path of :func:`connected_components`.

    Union-by-smaller-index with path halving: the root of every set is its
    minimum element by induction (each union links the larger root under the
    smaller; node indices are assigned in sorted-id order), so
    ``nodes[root]`` IS the component's min node id — exactly the distributed
    loop's canonical labels. Interleaved A/B on the 1.05M-doc bench edge set
    (50k edges): 3.5-4.2 s → 1.6-1.8 s, identical components."""
    import time as _time

    import numpy as np
    import pandas as pd

    t0 = _time.time()
    spark = edges.sparkSession
    out_schema = f"node {edges.schema['u'].dataType.simpleString()}, comp {edges.schema['v'].dataType.simpleString()}"
    tbl = edges.toArrow()
    u = tbl.column("u").to_numpy(zero_copy_only=False).astype(np.int64)
    v = tbl.column("v").to_numpy(zero_copy_only=False).astype(np.int64)
    nodes, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
    ui, vi = inv[: u.size], inv[u.size:]
    parent = np.arange(nodes.size, dtype=np.int64)

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(ui.tolist(), vi.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    roots = np.array([find(i) for i in range(nodes.size)], dtype=np.int64)
    comp = nodes[roots]
    if metrics is not None:
        metrics.append(
            {"round": 0, "changed": 0, "wall_sec": round(_time.time() - t0, 4)}
        )
    return spark.createDataFrame(
        pd.DataFrame({"node": nodes, "comp": comp}), out_schema
    )


def _parquet_fence(df: DataFrame, path: str) -> DataFrame:
    """Write ``df`` to ``path`` unless a committed copy already exists; return
    the read-back. Commit marker = parquet's ``_SUCCESS`` file (a crashed
    partial write has none and is overwritten)."""
    spark = df.sparkSession
    fs, marker = _hadoop_fs(spark, f"{path}/_SUCCESS")
    if not fs.exists(marker):
        df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _last_committed_round(spark, reliable_dir: str) -> int | None:
    fs, glob = _hadoop_fs(spark, f"{reliable_dir}/labels_r*/_SUCCESS")
    best = None
    for status in fs.globStatus(glob) or []:
        name = status.getPath().getParent().getName()
        k = int(name[len("labels_r"):])
        best = k if best is None else max(best, k)
    return best


def connected_components(
    edges: DataFrame,
    *,
    src: str = "id_a",
    dst: str = "id_b",
    max_iters: int = 25,
    metrics: list | None = None,
    reliable_dir: str | None = None,
) -> DataFrame:
    """(node, comp) — comp = the minimum node id in each connected component.

    Borůvka-style label contraction in a HASH-RANDOMIZED label order: every
    round builds the QUOTIENT graph of the current labels (one distinct edge
    per pair of adjacent label-basins), merges each basin into its smallest
    neighbouring basin, shortcuts the small basin→basin mapping through
    itself once, and composes it into the labels. Labels are ordered by
    ``struct(xxhash64(node), node)`` — a random total order with a
    collision-free tie-break — NOT by raw node id: under any FIXED order an
    adversarial id layout defeats contraction (ids monotone along a chain
    make the quotient shift-invariant — each round's two-step compression
    just renames the chain and only its head merges, ~2 basins/round;
    measured on both sequential-id chains and coordinate-ordered contour
    isolines). Under the hashed order, monotone runs have probability ~1/k!
    per k-chain, so basins shrink geometrically for ANY input id
    distribution (measured: ÷2.7/round, 8000-node path in 10 rounds). After
    the fixpoint, one groupBy maps each component's hash-order winner to the
    component's MIN NODE ID — the deterministic canonical the callers (and
    the SQL oracle replays) rely on; the hash never leaks into the result.
    LSH banding's near-clique components still converge in 1-3 rounds.

    Round cost: one shuffle-join of the (checkpointed) edge list against the
    labels, a distinct on the (shrinking) quotient edges, a groupBy-min over
    basins, and one label update — with exactly ONE driver action (the
    quotient-edge count, which doubles as the fixpoint test and materializes
    the round's lazily-checkpointed tables). Checkpoint blocks are owned by
    their RDDs and reclaimed by the ContextCleaner when a round's DataFrame is
    garbage collected.

    Raises RuntimeError if not converged after ``max_iters`` — returning
    un-converged labels would silently split components.

    ``metrics``: optional list; each round appends
    ``{"round": i, "changed": n, "wall_sec": s}`` where ``changed`` is the
    round's remaining cross-basin quotient-edge count (0 = fixpoint) —
    convergence telemetry a 100 TB run logs to its checkpoint metrics table so
    mid-clustering progress is observable/resumable (the north-rule lineage
    story applied to the one iterative operator).

    Small graphs (edge count ≤ :data:`CC_DRIVER_MAX_EDGES`) skip the loop
    entirely: the materialized edge list is pulled to the driver and clustered
    with a union-find whose labels are provably the same min-node-id canonicals
    (:func:`_cc_driver_local`) — at that size the loop's cost is per-job
    latency, not data.

    ``reliable_dir``: optional directory for RELIABLE fences. The default
    localCheckpoint state is fast but dies with its executor — fine locally,
    but on a cluster a mid-loop executor loss fails the job. With a directory,
    the edge list is parquet-fenced, and so is every round's labels when the
    graph is big enough to run the loop: an executor loss recomputes from
    files, and a crashed DRIVER resumes at the last committed round on
    re-invocation (the fuzzy plan's stage fences resume BETWEEN stages; this
    resumes WITHIN the clustering stage). Below the bound the union-find runs
    on the fenced edges in one driver step, so there is no round to resume;
    the caller's stage fence commits its result. The dir must be unique per
    (edge set, parameters) — stale label tables from a different input would
    poison the resume; callers fold their input fingerprint into the path
    (see plans.datapipe).
    """
    import time as _time

    reliable = reliable_dir is not None
    # materialize the edge list ONCE before iterating: `edges` typically carries
    # an expensive upstream lineage (LSH + Jaccard verify), and the loop scans
    # it every round — without this checkpoint each round re-executes the
    # post-shuffle tail of that pipeline. Measured on the 210k-doc bench
    # corpus: ~10 s/round → sub-second rounds.
    edges = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    if reliable:
        edges = _parquet_fence(edges, f"{reliable_dir}/edges")
    else:
        edges = edges.localCheckpoint(eager=True)
    # plan choice from the now-known edge count (the count is cheap — edges
    # is materialized): tiny graphs skip the distributed loop entirely
    # (driver-local union-find, identical labels — see _cc_driver_local)
    if edges.count() <= CC_DRIVER_MAX_EDGES:
        return _cc_driver_local(edges, metrics=metrics)
    nodes = (
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .distinct()
    )
    labels = nodes.withColumn(
        "comp", F.struct(F.xxhash64("node").alias("h"), F.col("node").alias("n"))
    )
    start_round = 0
    if reliable:
        last = _last_committed_round(edges.sparkSession, reliable_dir)
        if last is None:
            labels = _parquet_fence(labels, f"{reliable_dir}/labels_r0")
        else:
            labels = edges.sparkSession.read.parquet(f"{reliable_dir}/labels_r{last}")
            start_round = last
    else:
        labels = labels.localCheckpoint(eager=True)
    for round_i in range(start_round, max_iters):
        t0 = _time.time()
        # quotient edges: one distinct row per adjacent basin pair
        e2 = (
            edges.join(labels.select(F.col("node").alias("u"), F.col("comp").alias("cu")), "u")
            .join(labels.select(F.col("node").alias("v"), F.col("comp").alias("cv")), "v")
            .select("cu", "cv")
            .filter(F.col("cu") != F.col("cv"))
            .distinct()
        )
        # reliable mode: persist (fault-tolerant — lost partitions recompute
        # from the parquet fences) instead of localCheckpoint (which would
        # reintroduce the executor-loss failure mode the fences remove).
        # try/finally: an exception between persist() and the round's end
        # (e.g. executor failure during the count) must not leak the block
        # across retries in a long session (ADVICE r6).
        e2 = e2.persist() if reliable else e2.localCheckpoint(eager=False)
        try:
            # the round's ONE driver action: materializes e2 (and,
            # transitively, this round's lazily-checkpointed tables) and
            # tests the fixpoint
            n_cross = e2.count()
            if metrics is not None:
                metrics.append(
                    {"round": round_i, "changed": int(n_cross),
                     "wall_sec": round(_time.time() - t0, 4)}
                )
            if n_cross == 0:
                # translate the hash-order component winners to min NODE ids:
                # deterministic canonical labels, independent of the hash
                roots = labels.groupBy("comp").agg(F.min("node").alias("_root"))
                return labels.join(roots, "comp").select(
                    "node", F.col("_root").alias("comp")
                )
            sym2 = e2.unionByName(e2.select(F.col("cv").alias("cu"), F.col("cu").alias("cv")))
            # each basin → its smallest adjacent basin (only if smaller: labels
            # must be monotone non-increasing and always name a component member)
            m = (
                sym2.groupBy("cu")
                .agg(F.min("cv").alias("mv"))
                .filter(F.col("mv") < F.col("cu"))
            )
            # one self-composition shortcuts merge CHAINS (a→b→c becomes a→c);
            # m is basin-sized (≪ nodes), so this join is cheap
            m = (
                m.join(
                    m.select(F.col("cu").alias("mv"), F.col("mv").alias("_mm")),
                    "mv",
                    "left",
                )
                .select("cu", F.coalesce("_mm", F.col("mv")).alias("mv"))
            )
            labels = labels.join(m.withColumnRenamed("cu", "comp"), "comp", "left").select(
                "node", F.coalesce("mv", F.col("comp")).alias("comp")
            )
            if reliable:
                # the write is the round's commit point: a crash before it
                # re-runs this round from labels_r{i}; after it, resume skips
                labels = _parquet_fence(labels, f"{reliable_dir}/labels_r{round_i + 1}")
            else:
                labels = labels.localCheckpoint(eager=False)
        finally:
            if reliable:
                e2.unpersist()
    raise RuntimeError(
        f"connected_components did not converge in {max_iters} rounds — "
        "raise max_iters (basin contraction needs ~log2(n) rounds)"
    )


def exact_rep_table(keyed: DataFrame, keys: list[str], id_col: str) -> DataFrame:
    """Exact-collapse stage shared by fuzzy_dedup_assign and the checkpointed
    plan: the min-``id_col`` row per key group, carrying ALL of ``keyed``'s
    columns (text for the LSH stage, the key columns for the rep mapping)."""
    rep_ids = keyed.groupBy(*keys).agg(F.min(id_col).alias(id_col))
    return keyed.join(rep_ids, list(keys) + [id_col], "left_semi")


def _rep_tables(
    keyed: DataFrame, keys: list[str], id_col: str
) -> tuple[DataFrame, DataFrame, bool]:
    """(rep_min, reps, broadcast_reps) for the one-shot fuzzy pipelines.

    ``rep_min`` — the (keys → min id) table — is materialized ONCE (eager
    localCheckpoint of fixed-width rows: the same bytes its groupBy shuffle
    already wrote to disk). The downstream pipeline consumes the rep mapping
    three times (signature path, candidate-gram path, final assignment);
    without the cut each consumer re-ran the full groupBy — measured ~2.5 s
    per execution at 1.05M docs. With the row count now driver-known (the
    count is cheap on the checkpointed table), ``broadcast_reps`` gates the
    guide §3.1 upgrade: under :data:`REP_BROADCAST_MAX_ROWS` (and only in
    fingerprint key mode — text-mode keys are unbounded-width) the semi-join
    builds ``rep_min`` as a broadcast relation, so the text-bearing corpus is
    never shuffled by the exact collapse at all. Interleaved A/B of the full
    pipeline at 1.05M docs: 21.1-23.1 s → 13.9-20.0 s, full-row-identical
    output."""
    rep_min = (
        keyed.groupBy(*keys).agg(F.min(id_col).alias(id_col)).localCheckpoint(eager=True)
    )
    broadcast_reps = (
        list(keys) == list(_FP_NAMES) and rep_min.count() <= REP_BROADCAST_MAX_ROWS
    )
    bc = F.broadcast if broadcast_reps else (lambda df: df)
    reps = keyed.join(bc(rep_min), list(keys) + [id_col], "left_semi")
    return rep_min, reps, broadcast_reps


def assign_canonical(
    keyed: DataFrame, keys: list[str], reps: DataFrame, comp: DataFrame, id_col: str,
    *, broadcast_reps: bool = False,
) -> DataFrame:
    """Assignment stage shared by fuzzy_dedup_assign and the checkpointed plan:
    every doc maps key → representative → component minimum (singletons map to
    their representative). Joins on the fixed-width key columns only — text is
    projected out before the shuffle in fingerprint mode. ``reps`` may be any
    table carrying the key columns + ``id_col`` (the full rep rows, or just
    the fixed-width rep_min mapping). ``broadcast_reps`` broadcasts the rep
    mapping into the key join (set by callers that know its row count)."""
    rep_ids = reps.select(*keys, F.col(id_col).alias("_rep"))
    if broadcast_reps:
        rep_ids = F.broadcast(rep_ids)
    rep_of = keyed.select(id_col, *keys).join(rep_ids, list(keys))
    return rep_of.join(
        comp.withColumnRenamed("node", "_rep"), "_rep", "left"
    ).select(id_col, F.coalesce("comp", F.col("_rep")).alias("canonical_id"))


def verified_near_dup_edges(
    reps: DataFrame,
    *,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_family: str = "xxhash64",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Verified near-dup edges (id_a, id_b): MinHash-LSH candidates → exact
    word-n-gram Jaccard per pair, computed JVM-side with ``array_intersect``
    over the two docs' (distinct) gram arrays — no extra gram explode/shuffle
    (candidate count ≪ corpus²). The candidate/verify stage shared by
    :func:`fuzzy_dedup_assign` and the checkpoint-fenced plan."""
    cands = minhash_candidate_pairs(
        reps, n=n, num_hashes=num_hashes, bands=bands,
        id_col=id_col, text_col=text_col, hash_family=hash_family,
        max_bucket_size=max_bucket_size,
    ).localCheckpoint(eager=False)
    # gram arrays only for docs that actually appear in a candidate pair
    # (guide §3.2's semi-join pre-filter): the verify join consumes grams
    # twice (id_a side, id_b side), and without the cut BOTH consumers
    # re-tokenized and re-shingled EVERY rep — candidate docs are typically
    # a small fraction of the corpus, so the old plan did ~2/fraction× the
    # needed shingle work and shuffled full-corpus gram arrays twice.
    # Checkpointing the candidate-only gram table makes the shingle pass run
    # once; interleaved A/B: edges 28.3-36.8 s -> 17.2-21.6 s at 1.05M docs
    # (~flat at 210k, where per-job latency dominates), identical edge sets.
    cand_ids = (
        cands.select(F.col("id_a").alias("_gid"))
        .unionByName(cands.select(F.col("id_b").alias("_gid")))
        .distinct()
    )
    grams = (
        reps.join(cand_ids, reps[id_col] == cand_ids["_gid"], "left_semi")
        .select(F.col(id_col).alias("_gid"), word_ngrams(F.col(text_col), n).alias("_grams"))
        .localCheckpoint(eager=False)
    )
    pairs = (
        cands.join(grams.select(F.col("_gid").alias("id_a"), F.col("_grams").alias("_ga")), "id_a")
        .join(grams.select(F.col("_gid").alias("id_b"), F.col("_grams").alias("_gb")), "id_b")
    )
    inter = F.size(F.array_intersect("_ga", "_gb"))
    union = F.size("_ga") + F.size("_gb") - inter
    return (
        pairs.withColumn("_j", inter.cast("double") / union.cast("double"))
        .filter(F.col("_j") >= threshold)
        .select("id_a", "id_b")
    )


def fuzzy_dedup_assign(
    docs: DataFrame,
    *,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_family: str = "xxhash64",
    max_iters: int = 25,
    max_bucket_size: int | None = None,
    key: str = "fingerprint",
    cc_metrics: list | None = None,
) -> DataFrame:
    """End-to-end fuzzy dedup: (doc_id, canonical_id) for EVERY input doc.

    The full training-data dedup endpoint, each stage the scale path:

      0. exact pre-pass: byte-identical texts — the DOMINANT duplicate class
         at web scale — collapse to one representative (min id per text)
         before any LSH work, so a 100k-copy boilerplate cluster contributes
         ONE doc to the bucket self-join instead of a 100k² candidate blowup.
         Results are unchanged: identical texts have identical signatures, so
         the representative components merge exactly the text groups the
         full-corpus components would, and min-over-component of rep ids IS
         min-over-component of all member ids.
      1. candidates: MinHash-LSH banding over representatives (never
         all-pairs; ``max_bucket_size`` additionally caps degenerate NEAR-dup
         buckets — templated non-identical docs — at the documented recall
         trade-off),
      2. verify: exact word-n-gram Jaccard per candidate pair — computed
         JVM-side with ``array_intersect`` over the two docs' (distinct) gram
         arrays, no extra gram explode/shuffle (candidate count ≪ corpus²),
      3. cluster: connected components over verified edges (near-clique
         components from banding → 1-3 label-propagation rounds),
      4. assign: every doc maps text → representative → component minimum;
         singletons map to themselves.

    Keep-one-per-cluster filter: ``out.filter(F.col(id_col) ==
    F.col("canonical_id"))`` semi-joined back to the docs.

    Shuffle-key discipline: both ends of the pipeline — the exact pre-pass
    groupBy and the final text→representative join-back — are keyed on the
    128-bit content fingerprint (``key='fingerprint'``, default), so document
    bytes travel the wire exactly once (as VALUES into the LSH stage), never
    as groupBy/join KEY material. ``key='text'`` restores raw-text keys.

    ``cc_metrics``: optional list that receives the connected-components
    per-round telemetry dicts (see :func:`connected_components`).
    """
    return _fuzzy_stages(
        docs, key=key, n=n, num_hashes=num_hashes, bands=bands,
        threshold=threshold, id_col=id_col, text_col=text_col,
        hash_family=hash_family, max_iters=max_iters,
        max_bucket_size=max_bucket_size, cc_metrics=cc_metrics,
    )[3]


def _fuzzy_stages(
    docs: DataFrame, *, key: str, n: int, num_hashes: int, bands: int,
    threshold: float, id_col: str, text_col: str, hash_family: str,
    max_iters: int, max_bucket_size: int | None, cc_metrics: list | None,
) -> tuple[list[str], DataFrame, DataFrame, DataFrame]:
    """(keys, rep_min, reps, assign): the one-shot fuzzy stages shared by
    :func:`fuzzy_dedup_assign` and :func:`build_dedup_index` — keying, rep
    tables, verified edges, components, assignment."""
    keyed, keys = _group_keys(docs.select(id_col, text_col), text_col, key)
    # representatives WITH text (the LSH input): min-id row per distinct text.
    # rep_min is materialized once and (when small enough) broadcast, so the
    # text-bearing corpus is never shuffled by the exact collapse — see
    # _rep_tables.
    rep_min, reps, bc_reps = _rep_tables(keyed, keys, id_col)
    edges = verified_near_dup_edges(
        reps.select(id_col, text_col), n=n, num_hashes=num_hashes, bands=bands,
        threshold=threshold, id_col=id_col, text_col=text_col,
        hash_family=hash_family, max_bucket_size=max_bucket_size,
    )
    # comp is an eager localCheckpoint (see connected_components): its storage
    # is GC-bounded by the result's lifetime, never a session-lifetime cache
    comp = connected_components(edges, max_iters=max_iters, metrics=cc_metrics)
    assign = assign_canonical(
        keyed, keys, rep_min, comp, id_col, broadcast_reps=bc_reps
    )
    return keys, rep_min, reps, assign


# ---------------------------------------------------------------------------
# Incremental dedup against a persisted index
# ---------------------------------------------------------------------------

def build_dedup_index(
    docs: DataFrame,
    *,
    index_dir: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_family: str = "xxhash64",
    max_iters: int = 25,
    max_bucket_size: int | None = None,
    cc_metrics: list | None = None,
) -> DataFrame:
    """Fuzzy-dedup the corpus AND persist the reusable index tables under
    ``index_dir`` — the production shape for a corpus that grows by shards:
    dedup the existing data once, then assign every NEW shard against the
    index (:func:`incremental_dedup_assign`) without re-shingling the corpus.

    Three parquet tables, all FIXED-WIDTH columns (no document bytes — the
    index for a 100 TB corpus is a few dozen bytes/doc):

      canonical/     (id_col, canonical_id)       one row per indexed doc
      fingerprints/  (_fp1,_fp2,_fpl, canonical_id) one row per DISTINCT text
      signatures/    (id, sig, canonical_id)      one row per text REP that
                                                  shingles (≥ n tokens)

    Returns the canonical assignment DataFrame (read back from the index).
    """
    spark = docs.sparkSession
    keys, rep_min, reps, assign = _fuzzy_stages(
        docs, key="fingerprint", n=n, num_hashes=num_hashes, bands=bands,
        threshold=threshold, id_col=id_col, text_col=text_col,
        hash_family=hash_family, max_iters=max_iters,
        max_bucket_size=max_bucket_size, cc_metrics=cc_metrics,
    )
    assign.write.mode("overwrite").parquet(f"{index_dir}/canonical")
    canon = spark.read.parquet(f"{index_dir}/canonical")
    rep_min.join(canon, id_col).select(
        *keys, "canonical_id"
    ).write.mode("overwrite").parquet(f"{index_dir}/fingerprints")
    sigs = minhash_signatures_df(
        reps.select(id_col, text_col), n=n, num_hashes=num_hashes,
        id_col=id_col, text_col=text_col, hash_family=hash_family,
    )
    sigs.join(
        canon.select(F.col(id_col).alias("id"), "canonical_id"), "id"
    ).write.mode("overwrite").parquet(f"{index_dir}/signatures")
    # parameter manifest: every consumer (incremental_dedup_assign, the
    # streaming near-dup path) validates its banding parameters against the
    # ones the index was BUILT with — a silent n/num_hashes/bands mismatch
    # would bucket against garbage; stored via Spark so the index stays
    # portable to non-local filesystems
    spark.createDataFrame(
        [(int(n), int(num_hashes), int(bands), float(threshold), hash_family)],
        "n int, num_hashes int, bands int, threshold double, hash_family string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{index_dir}/params")
    return canon


def validate_index_params(
    spark, index_dir: str, *, n: int, num_hashes: int, bands: int,
    hash_family: str, threshold: float | None = None,
) -> None:
    """Fail loudly when banding parameters disagree with the persisted index's
    manifest (:func:`build_dedup_index`). Only a MISSING manifest is accepted
    (pre-manifest index — the signature-length check in
    :func:`lsh_buckets_from_signatures` still guards num_hashes); a corrupt
    or unreadable one propagates, never silently skips validation.

    ``threshold`` is validated too when the caller passes one (ADVICE r6: a
    silently different Jaccard threshold changes assignment semantics);
    ``None`` skips that field for callers that deliberately re-verify at a
    different bar."""
    fs, marker = _hadoop_fs(spark, f"{index_dir}/params")
    if not fs.exists(marker):
        return  # pre-manifest index: length validation still applies
    row = spark.read.parquet(f"{index_dir}/params").head()
    got = dict(n=n, num_hashes=num_hashes, bands=bands, hash_family=hash_family)
    built = dict(
        n=row["n"], num_hashes=row["num_hashes"], bands=row["bands"],
        hash_family=row["hash_family"],
    )
    if threshold is not None:
        got["threshold"] = float(threshold)
        built["threshold"] = float(row["threshold"])
    if got != built:
        raise ValueError(
            f"dedup index at {index_dir} was built with {built}, "
            f"but caller passed {got}"
        )


def incremental_dedup_assign(
    new_docs: DataFrame,
    index_docs: DataFrame,
    *,
    index_dir: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_family: str = "xxhash64",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Assign a NEW shard against a persisted dedup index
    (:func:`build_dedup_index`) — (doc_id, canonical_id, match_kind) for every
    new doc, without touching the indexed corpus's shingles:

      'exact'  byte-identical to an indexed text → that text's canonical.
               Fingerprint-keyed equi-join against fingerprints/ — fixed-width
               keys, never document bytes on the shuffle.
      'near'   MinHash-LSH banding of the new docs joined against the banding
               of signatures/ (recomputed from the stored sigs — pure
               arithmetic, no corpus text), then exact n-gram Jaccard verify
               against only the CANDIDATE indexed reps' text (``index_docs``
               supplies text for verification; candidate count ≪ corpus).
               Best match = highest Jaccard, ties to the smallest canonical.
      'new'    no index match → canonical_id = own id.

    Intra-shard duplicates are deliberately out of scope (the documented
    contract): run :func:`fuzzy_dedup_assign` on the shard first, or fold the
    surviving shard into the next index rebuild. Banding parameters must match
    the ones the index was built with — validated against the index's params
    manifest (:func:`validate_index_params`), with signature length
    additionally checked by :func:`lsh_buckets_from_signatures` (a mismatched
    ``num_hashes`` fails the job rather than silently mis-bucketing).
    """
    spark = new_docs.sparkSession
    validate_index_params(
        spark, index_dir, n=n, num_hashes=num_hashes, bands=bands,
        hash_family=hash_family, threshold=threshold,
    )
    fps = spark.read.parquet(f"{index_dir}/fingerprints")
    sigs = spark.read.parquet(f"{index_dir}/signatures")
    keyed = new_docs.select(id_col, text_col).select("*", *_fp_cols(text_col))

    exact = keyed.join(fps, list(_FP_NAMES)).select(
        id_col, "canonical_id", F.lit("exact").alias("match_kind")
    )
    rest = keyed.join(fps, list(_FP_NAMES), "left_anti")

    new_sigs = minhash_signatures_df(
        rest, n=n, num_hashes=num_hashes, id_col=id_col, text_col=text_col,
        hash_family=hash_family,
    )
    new_b = lsh_buckets_from_signatures(
        new_sigs, num_hashes=num_hashes, bands=bands, hash_family=hash_family
    ).select(F.col("id").alias("_nid"), "band", "bucket")
    idx_b = lsh_buckets_from_signatures(
        sigs.select("id", "sig"), num_hashes=num_hashes, bands=bands,
        hash_family=hash_family,
    ).select(F.col("id").alias("_iid"), "band", "bucket")
    if max_bucket_size is not None:
        hot = (
            idx_b.groupBy("band", "bucket")
            .agg(F.count("*").alias("_bn"))
            .filter(F.col("_bn") > max_bucket_size)
            .select("band", "bucket")
        )
        idx_b = idx_b.join(F.broadcast(hot), ["band", "bucket"], "left_anti")
    cands = new_b.join(idx_b, ["band", "bucket"]).select("_nid", "_iid").distinct()

    new_grams = rest.select(
        F.col(id_col).alias("_nid"), word_ngrams(F.col(text_col), n).alias("_ga")
    )
    idx_grams = index_docs.select(
        F.col(id_col).alias("_iid"), word_ngrams(F.col(text_col), n).alias("_gb")
    )
    inter = F.size(F.array_intersect("_ga", "_gb"))
    union = F.size("_ga") + F.size("_gb") - inter
    verified = (
        cands.join(new_grams, "_nid")
        .join(idx_grams, "_iid")
        .withColumn("_j", inter.cast("double") / union.cast("double"))
        .filter(F.col("_j") >= threshold)
        .join(sigs.select(F.col("id").alias("_iid"), "canonical_id"), "_iid")
    )
    w = Window.partitionBy("_nid").orderBy(
        F.col("_j").desc(), F.col("canonical_id").asc(), F.col("_iid").asc()
    )
    near = (
        verified.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select(
            F.col("_nid").alias(id_col), "canonical_id",
            F.lit("near").alias("match_kind"),
        )
    )
    matched = exact.unionByName(near)
    fresh = (
        keyed.join(matched.select(id_col), id_col, "left_anti")
        .select(
            id_col, F.col(id_col).alias("canonical_id"),
            F.lit("new").alias("match_kind"),
        )
    )
    return matched.unionByName(fresh)
