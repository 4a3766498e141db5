"""Training-data-pipeline operators over the driver's ``documents``
and ``embeddings`` tables (TESTDATA.md: ``{sf}/documents.parquet`` =
(doc_id, text, lang, source, n_chars); ``{sf}/embeddings.parquet`` =
(vec_id, embedding: array<float> x64, label)).

These are the operators a 100 TB training-data pipeline runs beside
the spatial checks: exact + near dedup, content fingerprinting, text
quality analysis, and similarity search.  Everything here is native
``pyspark.sql.functions`` — no Python UDFs anywhere — so the whole
family stays inside whole-stage codegen and scales by partition count.

Cross-engine determinism (each operator has a DuckDB oracle in
``oracles.py``):

* 32-bit string hash = first 8 hex chars of md5, identical in Spark
  (``conv(substring(md5(x),1,8),16,10)``) and DuckDB
  (``('0x'||substr(md5(x),1,8))::BIGINT``);
* MinHash permutations / SimHash planes / LSH hyperplanes are small
  integer coefficient tables generated once in Python (seeded, from
  md5) and embedded as literals in BOTH the Spark plan and the oracle
  SQL, so there is no cross-engine RNG to disagree;
* modular arithmetic stays below 2^62 (coefficients < 2^31, hashes
  reduced mod the Mersenne prime first), so BIGINT/long never wrap;
* floating-point scores are rounded (6 dp) before ranking, with a
  deterministic id tie-break, so double-precision ulps can't flip
  cross-engine row order.

Scale shapes (the 100 TB contract):

* dedup/near-dup group by a bounded key (hash / (band, bucket)) —
  never all-pairs; hot buckets are capped (``LSH_BUCKET_CAP``) the
  same way ``spatial.refine_hot_cells`` caps hot tiles, and every
  per-group roster is top-K-bounded like ``media.media_dup_refs``;
* the kNN query side is a small fixed subset → broadcast join against
  the full vector table, which partitions by file splits;
* per-doc operators (stats, fingerprint, simhash, langid) are
  embarrassingly parallel single-pass scans.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# shared deterministic coefficient tables (mirrored into the oracles)
# ---------------------------------------------------------------------------

MERSENNE31 = 2147483647  # minhash / rolling-hash modulus
SHINGLE_K = 3  # word shingle width
MINHASH_K = 16  # permutations
LSH_BANDS = 4  # bands of MINHASH_K // LSH_BANDS rows
NEARDUP_JACCARD = 0.32  # exact-verify threshold on shingle sets
LSH_BUCKET_CAP = 64  # max docs considered per (band, bucket)
DUP_ROSTER_CAP = 20  # doc sample per exact-dup group
ROLL_BASE = 131  # rolling-hash base
SIMHASH_BITS = 32
EMB_DIM = 64
ANN_PLANES = 8  # random-hyperplane LSH bits
KNN_K = 5
KNN_QUERY_MOD = 25  # queries = vec_id % KNN_QUERY_MOD == 0


def _h32_int(s: str) -> int:
    """Python twin of the Spark/DuckDB 32-bit md5 prefix hash."""
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def minhash_coeffs() -> list[tuple[int, int]]:
    """(a, b) per permutation; a in [1, p-1], b in [0, p-1]."""
    out = []
    for i in range(MINHASH_K):
        a = _h32_int(f"minhash_a_{i}") % (MERSENNE31 - 1) + 1
        b = _h32_int(f"minhash_b_{i}") % MERSENNE31
        out.append((a, b))
    return out


def ann_planes() -> list[list[int]]:
    """ANN_PLANES x EMB_DIM integer hyperplanes in [-1000, 1000]."""
    return [
        [(_h32_int(f"plane_{p}_{j}") % 2001) - 1000 for j in range(EMB_DIM)]
        for p in range(ANN_PLANES)
    ]


STOPWORDS = [
    "the", "a", "of", "and", "to", "in", "is", "on", "for", "with",
]

# deterministic language-marker table (index order = tie-break order)
LANG_MARKERS: list[tuple[str, list[str]]] = [
    ("de", ["der", "die", "das", "und", "nicht", "mit"]),
    ("en", ["the", "and", "of", "is", "to", "a"]),
    ("es", ["el", "la", "los", "que", "y", "de"]),
    ("fr", ["le", "la", "les", "et", "que", "une"]),
    ("zh", ["de", "shi", "bu", "le", "zai", "wo"]),
]


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------


def documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


# token array: lowercase, split on non-alphanumeric, drop empties
def _tokens(col):
    return F.filter(
        F.split(F.lower(col), "[^a-z0-9]+"), lambda t: t != F.lit("")
    )


def _h32(col):
    """32-bit unsigned hash of a string column (md5 hex prefix)."""
    return F.conv(F.substring(F.md5(F.encode(col, "UTF-8")), 1, 8), 16, 10).cast(
        "long"
    )


def _shingle_hashes(tok_col):
    """Distinct 32-bit hashes of the SHINGLE_K-word shingles, reduced
    mod MERSENNE31 (keeps all later modular products < 2^62)."""
    k = SHINGLE_K
    shingles = F.when(
        F.size(tok_col) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(tok_col) - (k - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(tok_col, i + j) for j in range(k)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    hashed = F.transform(
        shingles,
        lambda s: F.conv(
            F.substring(F.md5(F.encode(s, "UTF-8")), 1, 8), 16, 10
        ).cast("long")
        % MERSENNE31,
    )
    return F.array_sort(F.array_distinct(hashed))


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

# GPT-2-style pre-tokenizer regex (Radford et al. 2019, simplified):
# contractions | space?+letter-run | space?+digit-run | space?+punct-run
# | whitespace-run.  The upstream pattern's trailing-whitespace
# lookahead `\s+(?!\S)` is dropped (RE2 — the DuckDB oracle engine —
# has no lookahead); Java regex and RE2 are both leftmost-first on
# alternation, so the two engines tokenize identically (verified on
# contractions / double spaces / tabs / punct runs in
# tests/test_docops.py::test_bpe_pretokenizer_cases).
BPE_PRETOKEN_RE = (
    "'(?:s|t|re|ve|m|ll|d)"
    "| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \t\n\r]+|[ \t\n\r]+"
)


def doc_token_stats(docs: DataFrame) -> DataFrame:
    """Token counting two ways: whitespace tokens and BPE-ish regex
    pre-tokens (the unit a GPT-2-family byte-pair encoder would merge
    within — a good proxy for training-token cost without shipping a
    merges table).

    Columns: whitespace count, pre-token count (whitespace-only runs
    excluded), distinct pre-tokens, chars per pre-token, and the
    bpe/ws inflation ratio.  Single-pass narrow scan — no shuffle, no
    Python; `regexp_extract_all` runs JVM-side in codegen.
    """
    ws_toks = F.filter(
        F.split(F.col("text"), "[ \t\n\r]+"), lambda t: t != F.lit("")
    )
    pre = F.regexp_extract_all("text", F.lit(BPE_PRETOKEN_RE), 0)
    # drop pure-whitespace runs: they cost ~0 merges and would skew
    # the per-token ratios on whitespace-padded docs
    bpe = F.filter(pre, lambda m: m.rlike("[^ \t\n\r]"))
    n_ws = F.size(ws_toks)
    n_bpe = F.size(bpe)
    return docs.select(
        "doc_id",
        n_ws.cast("long").alias("n_ws_tokens"),
        n_bpe.cast("long").alias("n_bpe_tokens"),
        F.size(F.array_distinct(bpe)).cast("long").alias("n_bpe_distinct"),
        F.round(
            F.length("text") / F.greatest(n_bpe, F.lit(1)), 6
        ).alias("chars_per_bpe"),
        F.round(n_bpe / F.greatest(n_ws, F.lit(1)), 6).alias("bpe_per_ws"),
    )


def doc_stats(docs: DataFrame) -> DataFrame:
    """Per-document quality metrics: token/char counts, punctuation /
    stopword / uppercase ratios, and a deterministic quality score.

    Single-pass narrow scan — partitions by file split, no shuffle.
    """
    toks = _tokens(F.col("text"))
    n_chars = F.length("text")
    n_tokens = F.size(toks)
    n_punct = F.length(F.regexp_replace("text", "[a-zA-Z0-9 ]", ""))
    n_upper = F.length(F.regexp_replace("text", "[^A-Z]", ""))
    n_stop = F.size(
        F.filter(toks, lambda t: t.isin(*[F.lit(s) for s in STOPWORDS]))
    )
    punct_ratio = F.round(n_punct / F.greatest(n_chars, F.lit(1)), 6)
    upper_ratio = F.round(n_upper / F.greatest(n_chars, F.lit(1)), 6)
    stop_ratio = F.round(n_stop / F.greatest(n_tokens, F.lit(1)), 6)
    mean_tok_len = F.round(
        F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
        / F.greatest(n_tokens, F.lit(1)),
        6,
    )
    # bounded-length + low-punct + some-stopwords heuristic, mirrors
    # the C4/GPT-style quality filters a pretraining pipeline applies
    quality = F.round(
        F.when((n_tokens >= 10) & (n_tokens <= 1000), F.lit(1.0)).otherwise(0.0)
        * (1.0 - F.least(punct_ratio * 4, F.lit(1.0)))
        * (0.5 + F.least(stop_ratio * 5, F.lit(0.5))),
        6,
    )
    return docs.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        punct_ratio.alias("punct_ratio"),
        upper_ratio.alias("upper_ratio"),
        stop_ratio.alias("stop_ratio"),
        mean_tok_len.alias("mean_tok_len"),
        quality.alias("quality"),
    )


def doc_langid(docs: DataFrame) -> DataFrame:
    """Marker-word language guess with deterministic tie-breaks.

    Scores each language by marker-token occurrences; argmax prefers
    the LANG_MARKERS table order on ties; all-zero scores → 'und'.
    Pure map-side — no shuffle.
    """
    toks = _tokens(F.col("text"))
    scored = []
    for idx, (lang, markers) in enumerate(LANG_MARKERS):
        score = F.size(
            F.filter(toks, lambda t: t.isin(*[F.lit(m) for m in markers]))
        )
        # struct comparison is field-order lexicographic in both
        # engines: (score, -idx) picks highest score, then lowest idx
        scored.append(F.struct(score.alias("s"), F.lit(-idx).alias("ni")))
    best = F.array_max(F.array(*scored))
    langs = F.array(*[F.lit(lang) for lang, _ in LANG_MARKERS])
    pred = F.when(best["s"] <= 0, F.lit("und")).otherwise(
        F.element_at(langs, -best["ni"] + 1)
    )
    return docs.select(
        "doc_id",
        pred.alias("pred_lang"),
        best["s"].cast("long").alias("marker_hits"),
    )


def doc_fingerprint(docs: DataFrame) -> DataFrame:
    """Rolling polynomial hash over the token stream (Rabin-Karp:
    acc = acc*B + h(tok) mod p) plus the token-set cardinality —
    an order-sensitive content fingerprint.  Map-side only."""
    toks = _tokens(F.col("text"))
    tok_hashes = F.transform(
        toks,
        lambda t: F.conv(
            F.substring(F.md5(F.encode(t, "UTF-8")), 1, 8), 16, 10
        ).cast("long")
        % MERSENNE31,
    )
    rolling = F.aggregate(
        tok_hashes,
        F.lit(0).cast("long"),
        lambda acc, h: (acc * ROLL_BASE + h) % MERSENNE31,
    )
    return docs.select(
        "doc_id",
        rolling.alias("fingerprint"),
        F.size(F.array_distinct(toks)).cast("long").alias("vocab_size"),
    )


def doc_simhash(docs: DataFrame) -> DataFrame:
    """SIMHASH_BITS-bit SimHash over the distinct shingle hashes: bit
    j is the sign of Σ±1 over shingles, +1 when shingle-hash bit j is
    set.  Near-identical docs land within a small Hamming distance.
    Map-side only; O(bits × shingles) per doc, partition-local."""
    hs = _shingle_hashes(_tokens(F.col("text")))

    def _vote(bit: int):
        # helper (not a default-arg lambda): F.aggregate passes one
        # Column per lambda parameter, so extra params break
        return F.aggregate(
            hs,
            F.lit(0),
            lambda acc, h: acc
            + F.when(
                F.shiftright(h, bit).bitwiseAND(1) == 1, 1
            ).otherwise(-1),
        )

    bits = []
    for j in range(SIMHASH_BITS):
        vote = _vote(j)
        bits.append(
            F.when(vote > 0, F.lit(2 ** j).cast("long")).otherwise(F.lit(0))
        )
    simhash = bits[0]
    for b in bits[1:]:
        simhash = simhash + b
    return docs.select(
        "doc_id",
        simhash.alias("simhash"),
        F.size(hs).cast("long").alias("n_shingles"),
    )


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------


def _exact_keyed(docs: DataFrame) -> DataFrame:
    """(content_hash, doc_id): md5 of normalized text (lowercase
    tokens re-joined) — exact dedup's group key."""
    norm = F.concat_ws(" ", _tokens(F.col("text")))
    return docs.select(
        F.md5(F.encode(norm, "UTF-8")).alias("content_hash"), "doc_id"
    )


def doc_exact_dups(docs: DataFrame) -> DataFrame:
    """Exact dedup on the md5 of normalized text (lowercase tokens
    re-joined): hash-shuffle on the digest, groups are tiny by
    construction.  Roster capped like media.media_dup_refs."""
    keyed = _exact_keyed(docs)
    part = Window.partitionBy("content_hash")
    ranked = keyed.withColumn(
        "_rn", F.row_number().over(part.orderBy("doc_id"))
    ).withColumn("_total", F.count(F.lit(1)).over(part))
    return (
        ranked.filter(F.col("_rn") <= DUP_ROSTER_CAP)
        .groupBy("content_hash")
        .agg(
            F.max("_total").cast("long").alias("n_docs"),
            F.array_join(F.sort_array(F.collect_list("doc_id")), ",").alias(
                "docs"
            ),
        )
        .filter(F.col("n_docs") > 1)
    )


PLANT_DUP_MOD = 20    # every doc with h32(doc_id) % MOD == 0 gets a clone
PLANT_BIG_GROUP = 25  # clones of the min-doc_id doc (> DUP_ROSTER_CAP)


def planted_dup_docs(docs: DataFrame) -> DataFrame:
    """``documents`` ∪ deterministic duplicate plants — the
    positive-path input for exact dedup (the driver corpus has no
    duplicate texts at correctness scale, so ``doc_exact_dups`` on the
    raw table proves only the empty case):

    * every doc whose h32(doc_id) % PLANT_DUP_MOD == 0 gains one clone
      (``<doc_id>#dup``) → many small dup groups;
    * the min-doc_id doc gains PLANT_BIG_GROUP clones
      (``<doc_id>#bigNN``) → one group larger than DUP_ROSTER_CAP,
      exercising the roster cap.

    Both plants are pure column arithmetic mirrored in the oracle —
    no RNG, no driver-side data.
    """
    base = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    clones = base.filter(_h32(F.col("doc_id")) % PLANT_DUP_MOD == 0).select(
        F.concat(F.col("doc_id"), F.lit("#dup")).alias("doc_id"), "text"
    )
    m = base.groupBy().agg(F.min("doc_id").alias("doc_id"))
    big = (
        base.join(F.broadcast(m), "doc_id")
        .select(
            "doc_id", "text",
            F.explode(
                F.sequence(F.lit(1), F.lit(PLANT_BIG_GROUP))
            ).alias("i"),
        )
        .select(
            F.concat(
                "doc_id", F.lit("#big"),
                F.lpad(F.col("i").cast("string"), 2, "0"),
            ).alias("doc_id"),
            "text",
        )
    )
    return base.unionByName(clones).unionByName(big)


def doc_exact_dups_planted(docs: DataFrame) -> DataFrame:
    """Exact dedup over the planted corpus — same operator, non-empty
    output with the roster cap exercised (n_docs > DUP_ROSTER_CAP on
    the big group while its ``docs`` roster stays capped)."""
    return doc_exact_dups(planted_dup_docs(docs))


def _minhash_sigs(docs: DataFrame) -> DataFrame:
    """doc_id, shingle-hash set, MINHASH_K minhash signature values."""
    hs = _shingle_hashes(_tokens(F.col("text")))
    base = docs.select("doc_id", hs.alias("hs")).filter(F.size("hs") > 0)
    sig_cols = [
        F.array_min(
            F.transform(F.col("hs"), lambda h: (a * h + b) % MERSENNE31)
        ).alias(f"sig{i}")
        for i, (a, b) in enumerate(minhash_coeffs())
    ]
    return base.select("doc_id", "hs", *sig_cols)


def _minhash_banded(docs: DataFrame) -> DataFrame:
    """(doc_id, band, bkey): the LSH band keys of every doc — shared
    by the near-dup pair join and the cap-overflow census.  ids only:
    neither consumer needs the shingle sets, and carrying them would
    ship each set LSH_BANDS× through the band shuffle."""
    r = MINHASH_K // LSH_BANDS
    sigs = _minhash_sigs(docs)
    band_rows = []
    for band in range(LSH_BANDS):
        key = F.md5(
            F.encode(
                F.concat_ws(
                    "_", *[F.col(f"sig{band * r + j}") for j in range(r)]
                ),
                "UTF-8",
            )
        )
        band_rows.append(
            sigs.select(
                "doc_id", F.lit(band).alias("band"), key.alias("bkey")
            )
        )
    banded = band_rows[0]
    for bdf in band_rows[1:]:
        banded = banded.unionByName(bdf)
    return banded


def doc_minhash_neardups(
    docs: DataFrame, threshold: float = NEARDUP_JACCARD
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs with exact Jaccard verify.

    candidate generation: MINHASH_K minhash signature → LSH_BANDS
    band keys (md5 of the band's sig slice) → docs sharing a band key
    become candidate pairs.  The band join is keyed (band, bucket) —
    never all-pairs — and a hot bucket is capped at LSH_BUCKET_CAP
    docs (deterministic doc_id order), the textual twin of
    spatial.refine_hot_cells' hot-tile cap.
    verify: exact shingle-set Jaccard ≥ NEARDUP_JACCARD via
    array_intersect/array_union on the (distinct, sorted) hash sets.

    At 100 TB the flow is: 1 scan + signature (map-side), explode ×
    LSH_BANDS (linear), hash-shuffle on (band, key), within-bucket
    pair join bounded by the cap² — the canonical scalable near-dup
    shape (Broder MinHash + banding).  The band shuffle and the pair
    dedup move doc_ids ONLY; the shingle sets are re-attached from a
    second map-side scan keyed on doc_id just before the exact verify
    (carrying the sets through the band explode would ship each doc's
    set LSH_BANDS× through the widest shuffle).
    """
    banded = _minhash_banded(docs)
    w = Window.partitionBy("band", "bkey").orderBy("doc_id")
    capped = banded.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= LSH_BUCKET_CAP
    )
    cand = (
        capped.select("band", "bkey", F.col("doc_id").alias("doc_a"))
        .join(
            capped.select("band", "bkey", F.col("doc_id").alias("doc_b")),
            ["band", "bkey"],
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return _jaccard_verify(cand, docs, threshold)


NGRAM_DF_CAP = 24  # max document frequency for an indexable shingle


def _shingle_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, hs): each doc's distinct shingle-hash set — one
    map-side scan, joined onto id-only candidate pairs right before
    the exact-Jaccard verify."""
    hs = _shingle_hashes(_tokens(F.col("text")))
    return docs.select("doc_id", hs.alias("hs")).filter(F.size("hs") > 0)


def _jaccard_verify(
    cand: DataFrame, docs: DataFrame, threshold: float
) -> DataFrame:
    """Exact shingle-set Jaccard over id-only candidate pairs
    (doc_a, doc_b) — the shared verify stage of the MinHash and
    n-gram operators.  Two hash joins on doc_id; the sets never ride
    the candidate-generation shuffles."""
    sets = _shingle_sets(docs)
    pairs = (
        cand.join(
            sets.select(F.col("doc_id").alias("doc_a"),
                        F.col("hs").alias("hs_a")),
            "doc_a",
        )
        .join(
            sets.select(F.col("doc_id").alias("doc_b"),
                        F.col("hs").alias("hs_b")),
            "doc_b",
        )
    )
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    union = F.size(F.array_union("hs_a", "hs_b"))
    jac = inter / F.greatest(union, F.lit(1))
    return (
        pairs.select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _ngram_postings(docs: DataFrame) -> DataFrame:
    """(doc_id, sh): one posting row per (doc, distinct shingle) —
    the inverted index shared by the n-gram Jaccard join and its
    cap-census row.  ids only; the sets re-attach at verify time."""
    return _shingle_sets(docs).select(
        "doc_id", F.explode("hs").alias("sh")
    )


def doc_ngram_jaccard_neardups(
    docs: DataFrame, threshold: float = NEARDUP_JACCARD
) -> DataFrame:
    """Sketch-free n-gram Jaccard near-duplicate pairs.

    The MinHash twin approximates candidate generation through a
    signature; this operator indexes the shingles themselves:
    inverted index on *discriminative* shingles only (document
    frequency ≤ NGRAM_DF_CAP — a boilerplate shingle shared by
    thousands of docs cannot separate near-dups but would make its
    posting list quadratic), pair join within shingle, then the same
    exact shingle-set Jaccard ≥ threshold verify as the MinHash
    operator.  A true near-dup pair shares many shingles, so rare
    ones suffice to meet (the prefix-filtering idea of
    all-pairs-similarity joins, Bayardo WWW'07).

    At 100 TB: one scan + explode (linear in total shingles), one
    hash shuffle on shingle (the df window and the pair join share
    it), per-shingle pair work bounded by NGRAM_DF_CAP² — never
    all-pairs.  The postings and the pair join carry doc_ids ONLY
    (a posting row that dragged the whole shingle set along would
    ship O(|set|²) bytes per doc); the sets re-attach by doc_id at
    the shared exact-verify stage.  Dropped hot shingles are counted
    by ``dedup_cap_census`` (operator ``ngram_df_filter``; that
    filter drops the WHOLE over-cap posting list, so buckets_over is
    the count of unindexed shingles)."""
    posts = _ngram_postings(docs)
    w = Window.partitionBy("sh")
    rare = posts.withColumn("df", F.count(F.lit(1)).over(w)).filter(
        F.col("df") <= NGRAM_DF_CAP
    )
    cand = (
        rare.select("sh", F.col("doc_id").alias("doc_a"))
        .join(rare.select("sh", F.col("doc_id").alias("doc_b")), "sh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return _jaccard_verify(cand, docs, threshold)


SIMHASH_BANDS = 4  # byte-wide bands over the SIMHASH_BITS fingerprint
SIMHASH_HAMMING_MAX = 3  # pigeonhole: ≤3 flipped bits ⇒ ≥1 equal band
SIMHASH_BUCKET_CAP = 64


def _simhash_banded(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash, band, bkey): byte-band keys of every doc with
    shingles — shared by the near-dup join and the overflow census."""
    width = SIMHASH_BITS // SIMHASH_BANDS
    sh = doc_simhash(docs).filter(F.col("n_shingles") > 0)
    band_rows = [
        sh.select(
            "doc_id",
            "simhash",
            F.lit(band).alias("band"),
            F.shiftright(F.col("simhash"), band * width)
            .bitwiseAND(F.lit((1 << width) - 1))
            .alias("bkey"),
        )
        for band in range(SIMHASH_BANDS)
    ]
    banded = band_rows[0]
    for bdf in band_rows[1:]:
        banded = banded.unionByName(bdf)
    return banded


def doc_simhash_neardups(docs: DataFrame) -> DataFrame:
    """SimHash near-duplicate pairs with exact Hamming verify.

    candidate generation: band the SIMHASH_BITS fingerprint into
    SIMHASH_BANDS byte keys — by pigeonhole, any pair within
    SIMHASH_HAMMING_MAX Hamming distance shares at least one band —
    and bucket-join on (band, byte).  Hot buckets are capped at
    SIMHASH_BUCKET_CAP docs in deterministic doc_id order, the same
    discipline as doc_minhash_neardups.
    verify: exact ``bit_count(xor)`` ≤ SIMHASH_HAMMING_MAX.
    Docs with no shingles (fingerprint 0 over the empty set) are
    excluded up front — they are exact-dedup's business, and they
    would otherwise form one degenerate all-pairs bucket.

    Scale note: this toy-scale parameterization (32-bit fingerprint,
    8-bit bands) keeps every value oracle-checkable; a planet-scale
    deployment uses the identical plan shape with a 64-bit
    fingerprint and 16-bit bands (Manku et al., WWW'07), where the
    bucket key space is 65k per band and the cap bounds the residual
    hot buckets.
    """
    banded = _simhash_banded(docs)
    w = Window.partitionBy("band", "bkey").orderBy("doc_id")
    capped = banded.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= SIMHASH_BUCKET_CAP
    )
    left = capped.select(
        "band", "bkey", F.col("doc_id").alias("doc_a"),
        F.col("simhash").alias("sh_a"),
    )
    right = capped.select(
        "band", "bkey", F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("sh_b"),
    )
    pairs = (
        left.join(right, ["band", "bkey"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sh_a", "sh_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return pairs.select(
        "doc_a", "doc_b", ham.cast("long").alias("hamming")
    ).filter(F.col("hamming") <= SIMHASH_HAMMING_MAX)


# ---------------------------------------------------------------------------
# similarity search over embeddings
# ---------------------------------------------------------------------------


def _with_norm(emb: DataFrame) -> DataFrame:
    dot_self = F.aggregate(
        F.col("embedding"),
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    return emb.select("vec_id", "embedding", F.sqrt(dot_self).alias("norm"))


def _cosine(a, b, norm_a, norm_b):
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return dot / F.greatest(norm_a * norm_b, F.lit(1e-12))


def emb_knn_brute(emb: DataFrame) -> DataFrame:
    """Brute-force cosine top-K: the query subset (vec_id %
    KNN_QUERY_MOD == 0) broadcast-joins the full table; rank on the
    6-dp-rounded score with a vec_id tie-break (float-ulp safe).

    Scale shape: queries are the small side (broadcast), candidates
    partition by file split; per-partition partial top-K via the
    window is the textbook distributed brute-force kNN baseline.
    """
    base = _with_norm(emb)
    q = base.filter((F.col("vec_id") % KNN_QUERY_MOD) == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    cand = base.select(
        F.col("vec_id").alias("n_id"),
        F.col("embedding").alias("n_emb"),
        F.col("norm").alias("n_norm"),
    )
    scored = (
        F.broadcast(q)
        .join(cand, F.col("q_id") != F.col("n_id"))
        .select(
            "q_id",
            "n_id",
            F.round(
                _cosine(
                    F.col("q_emb"), F.col("n_emb"),
                    F.col("q_norm"), F.col("n_norm"),
                ),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("score").desc(), F.col("n_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_K)
        .select("q_id", F.col("rank").cast("long").alias("rank"), "n_id",
                "score")
    )


def _bucket_expr():
    """Random-hyperplane LSH bucket id from ANN_PLANES sign bits.

    The integer hyperplanes are literals generated by ann_planes()
    (seeded md5), identical in the oracle SQL.
    """
    bucket = F.lit(0)
    for p, plane in enumerate(ann_planes()):
        dot = F.aggregate(
            F.zip_with(
                F.col("embedding"),
                F.array(*[F.lit(v) for v in plane]),
                lambda x, c: x.cast("double") * c,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(dot > 0, F.lit(2 ** p)).otherwise(F.lit(0))
    return bucket


ANN_PROBE_HAMMING = 3  # multi-probe radius over the plane-bit buckets


def ann_probe_offsets() -> list[int]:
    """XOR masks of the multi-probe set: every bucket within Hamming
    distance ANN_PROBE_HAMMING of the query's bucket (Lv et al.,
    VLDB'07 multi-probe LSH).  Deterministic ascending order; size
    sum(C(ANN_PLANES, d) for d <= radius) — 93 for 8 planes, radius 3.
    """
    masks = [
        m for m in range(1 << ANN_PLANES)
        if bin(m).count("1") <= ANN_PROBE_HAMMING
    ]
    return sorted(masks)


def emb_ann_lsh(emb: DataFrame) -> DataFrame:
    """LSH-bucketed approximate kNN: sign-random-projection buckets
    (ANN_PLANES bits), multi-probe over every bucket within Hamming
    distance ANN_PROBE_HAMMING of the query's bucket, then exact
    cosine top-K over the probed candidates.  Same query subset and
    ranking rule as the brute-force baseline, so recall is directly
    measurable against it (test_docops pins a ≥0.5 floor at test
    scale; single-probe measured ~0.17 there — near chance).

    Scale shape: bucket assignment is map-side; queries explode ×
    |probe set| (93 for 8 planes / radius 3 — a constant), and the
    candidate join stays hash-shuffled on the bucket id — never
    all-pairs.  Each candidate lives in exactly one bucket and probe
    masks are distinct, so (q_id, n_id) pairs are unique by
    construction — no dedup pass.
    """
    base = _with_norm(emb).withColumn("bucket", _bucket_expr())
    probes = F.array(*[F.lit(m) for m in ann_probe_offsets()])
    q = (
        base.filter((F.col("vec_id") % KNN_QUERY_MOD) == 0)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_emb"),
            F.col("norm").alias("q_norm"),
            F.explode(
                F.transform(probes, lambda m: F.col("bucket").bitwiseXOR(m))
            ).alias("bucket"),
        )
    )
    cand = base.select(
        F.col("vec_id").alias("n_id"),
        F.col("embedding").alias("n_emb"),
        F.col("norm").alias("n_norm"),
        "bucket",
    )
    scored = (
        F.broadcast(q)
        .join(cand, "bucket")
        .filter(F.col("q_id") != F.col("n_id"))
        .select(
            "q_id",
            "bucket",
            "n_id",
            F.round(
                _cosine(
                    F.col("q_emb"), F.col("n_emb"),
                    F.col("q_norm"), F.col("n_norm"),
                ),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("score").desc(), F.col("n_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_K)
        .select("q_id", F.col("bucket").cast("long").alias("bucket"),
                F.col("rank").cast("long").alias("rank"), "n_id", "score")
    )


COSINE_NEARDUP = 0.3  # see docstring: exercises the path on the
EMB_DUP_BUCKET_CAP = 64  # driver's uniform-random embeddings


def emb_cosine_neardups(
    emb: DataFrame, threshold: float = COSINE_NEARDUP
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the dedup-side twin of
    emb_ann_lsh: sign-random-projection buckets, deterministic
    EMB_DUP_BUCKET_CAP per home bucket, **multi-probe** candidate
    pairing (the a-side explodes the same ann_probe_offsets() masks
    the ANN query uses — every bucket within Hamming
    ANN_PROBE_HAMMING), exact cosine ≥ COSINE_NEARDUP verify.

    Pair uniqueness: each vector lives in exactly one home bucket and
    exactly one XOR mask maps bucket(a) onto bucket(b), so with the
    ``vec_a < vec_b`` orientation every unordered candidate pair
    appears exactly once — no dedup pass.  The emitted ``bucket`` is
    ``least(bucket_a, bucket_b)`` (deterministic; single-bucket pairs
    keep their old value).

    Recall: single-bucket probing at cos ≥ 0.95 misses ≈ 1/3 of true
    pairs ((1-θ/π)^8 ≈ 0.66 at cos 0.99); Hamming-3 multi-probe lifts
    pair recall to ≥ 0.99 there (Σ_{k≤3} C(8,k) p^k (1-p)^{8-k},
    p = θ/π) — verified ≥ 0.9 on planted pairs in
    test_dedup_fixtures.py.

    Threshold note: the driver's synthetic embeddings are
    uniform-random — no planted duplicates; the max pairwise cosine
    is ≈0.5 — so COSINE_NEARDUP is set low (0.3) to keep the verify
    stage exercised with real rows at test scale.  A production
    near-dup threshold (~0.95) only makes the final filter more
    selective.

    Scale shape: map-side bucket assignment; the a-side explodes by
    the constant probe-set size (93), the join stays hash-shuffled on
    the bucket id, and every bucket's candidate list is capped — the
    pair count is bounded by |probes| × cap per vector, never
    all-pairs.  The probe explode and the pair join move vec_ids ONLY
    (carrying the embedding through the explode would ship every
    vector 93× through the widest shuffle); the vectors re-attach by
    vec_id just before the exact-cosine verify.  Cap overflow is
    surfaced by dedup_cap_census.
    """
    base = _with_norm(emb).withColumn("bucket", _bucket_expr())
    w = Window.partitionBy("bucket").orderBy("vec_id")
    capped = base.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= EMB_DUP_BUCKET_CAP
    )
    probes = F.array(*[F.lit(m) for m in ann_probe_offsets()])
    a = capped.select(
        F.col("bucket").alias("ba"),
        F.col("vec_id").alias("vec_a"),
        F.explode(
            F.transform(probes, lambda m: F.col("bucket").bitwiseXOR(m))
        ).alias("bucket"),
    )
    b = capped.select("bucket", F.col("vec_id").alias("vec_b"))
    cand = (
        a.join(b, "bucket")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a", "vec_b",
            F.least("ba", "bucket").cast("long").alias("bucket"),
        )
    )
    pairs = cand.join(
        base.select(F.col("vec_id").alias("vec_a"),
                    F.col("embedding").alias("ea"),
                    F.col("norm").alias("na")),
        "vec_a",
    ).join(
        base.select(F.col("vec_id").alias("vec_b"),
                    F.col("embedding").alias("eb"),
                    F.col("norm").alias("nb")),
        "vec_b",
    )
    cos = F.round(
        _cosine(F.col("ea"), F.col("eb"), F.col("na"), F.col("nb")), 6
    )
    return (
        pairs.select("vec_a", "vec_b", "bucket", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


IVF_SEED_MOD = 31  # medoid sample: vec_id % MOD == 1 -> nlist ~ N/31
IVF_NPROBE = 4  # inverted lists searched per query
IVF_SCALE = 1_000_000  # Lloyd component sums in scaled longs


def _arr_norm(col):
    """sqrt of the sequential self-dot of an array column."""
    return F.sqrt(
        F.aggregate(
            col, F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


def _nearest_centroid(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """vecs (vec_id, embedding, norm) x broadcast cents (cid, c_emb,
    c_norm) -> (vec_id, embedding, norm, cell): each vector's
    cosine-nearest centroid, ties to the lowest cid.  min-of-struct
    aggregation (map-side combinable partial min), not a window sort;
    1 - score is the struct sort key because struct minima sort
    ascending and 1 - x is strictly monotonic (score spans [-1, 1],
    so 1 - score never hits -0.0)."""
    scored = vecs.crossJoin(F.broadcast(cents)).select(
        "vec_id", "embedding", "norm",
        F.struct(
            (F.lit(1.0) - F.round(
                _cosine(F.col("embedding"), F.col("c_emb"),
                        F.col("norm"), F.col("c_norm")), 6,
            )).alias("inv"),
            F.col("cid").alias("cid"),
        ).alias("key"),
    )
    return (
        scored.groupBy("vec_id")
        .agg(F.min("key").alias("best"),
             F.first("embedding").alias("embedding"),
             F.first("norm").alias("norm"))
        .select("vec_id", "embedding", "norm",
                F.col("best.cid").alias("cell"))
    )


def _ivf_centroids(base: DataFrame) -> DataFrame:
    """(cid, c_emb array<double>, c_norm): IVF centroids — a
    deterministic medoid sample (vec_id % IVF_SEED_MOD == 1, so
    nlist ~ N/31 ~ sqrt-scale at bench sizes) refined by ONE Lloyd
    step.  The per-dimension means sum CAST(round(x * IVF_SCALE) AS
    LONG) — exact integer arithmetic, so the result is independent of
    Spark's partition-parallel summation order and bit-identical to
    the oracle's sequential SQL sum (a double sum would be
    order-dependent and hash-flaky).

    Production analog: FAISS-style IVF trains k-means on a driver
    sample; here the whole training step is in-plan and deterministic
    so the DuckDB oracle can co-derive it.  The seed window sorts only
    the ~N/31 seed rows (broadcast-scale), never the full table.
    """
    w = Window.orderBy("vec_id")
    seeds = (
        base.filter(F.col("vec_id") % IVF_SEED_MOD == 1)
        .select("vec_id", "embedding", "norm")
        .select(
            (F.row_number().over(w) - 1).alias("cid"),
            F.col("embedding").alias("c_emb"),
            F.col("norm").alias("c_norm"),
        )
    )
    assign0 = _nearest_centroid(base, seeds)
    comp = assign0.select(
        "cell", F.posexplode("embedding").alias("pos", "x")
    )
    cent = (
        comp.groupBy("cell", "pos")
        .agg(
            F.sum(
                F.round(F.col("x").cast("double") * IVF_SCALE).cast("long")
            ).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "cell", "pos",
            (F.col("s") / (F.col("n") * F.lit(float(IVF_SCALE)))).alias("c"),
        )
    )
    refined = (
        cent.groupBy("cell")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda s: s["c"],
            ).alias("c_emb")
        )
        .select(
            F.col("cell").alias("cid"), "c_emb",
            _arr_norm(F.col("c_emb")).alias("c_norm"),
        )
    )
    return refined


def emb_ann_ivf(emb: DataFrame) -> DataFrame:
    """IVF approximate kNN — the coarse-quantizer twin of the LSH
    variant: deterministic k-means-refined centroids partition the
    vectors into nlist inverted lists; each query searches only its
    IVF_NPROBE cosine-nearest lists, exact cosine top-K over those
    candidates.  Same query subset and ranking rule as emb_knn_brute,
    so recall is directly measurable (test_docops pins a floor).

    No silent caps: probed lists are searched exhaustively, so the
    operator needs no dedup_cap_census row (unlike the capped LSH
    family).

    Scale shape: centroid training touches the full table twice
    (assign + per-dimension mean — both map-side + one hash shuffle on
    (cell, pos)); centroids are tiny (nlist x 64 doubles) and
    broadcast; list assignment is a broadcast nested loop + partial
    min aggregation (no window over the full table); the query-side
    probe join is hash-shuffled on the list id, candidate work
    bounded by nprobe/nlist of the table per query — the canonical
    IVF-Flat plan (Johnson et al., billion-scale FAISS).
    """
    base = _with_norm(emb)
    cents = _ivf_centroids(base)
    lists = _nearest_centroid(base, cents)
    q = base.filter((F.col("vec_id") % KNN_QUERY_MOD) == 0)
    probe_w = Window.partitionBy("q_id").orderBy(
        F.col("c_score").desc(), F.col("cid").asc()
    )
    probes = (
        q.select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_emb"),
            F.col("norm").alias("q_norm"),
        )
        .crossJoin(F.broadcast(cents))
        .select(
            "q_id", "q_emb", "q_norm", "cid",
            F.round(
                _cosine(F.col("q_emb"), F.col("c_emb"),
                        F.col("q_norm"), F.col("c_norm")), 6,
            ).alias("c_score"),
        )
        .withColumn("c_rank", F.row_number().over(probe_w))
        .filter(F.col("c_rank") <= IVF_NPROBE)
        .select("q_id", "q_emb", "q_norm", F.col("cid").alias("cell"))
    )
    cand = lists.select(
        "cell", F.col("vec_id").alias("n_id"),
        F.col("embedding").alias("n_emb"), F.col("norm").alias("n_norm"),
    )
    scored = (
        F.broadcast(probes)
        .join(cand, "cell")
        .filter(F.col("q_id") != F.col("n_id"))
        .select(
            "q_id", "cell", "n_id",
            F.round(
                _cosine(F.col("q_emb"), F.col("n_emb"),
                        F.col("q_norm"), F.col("n_norm")), 6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("score").desc(), F.col("n_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_K)
        .select("q_id", F.col("cell").cast("long").alias("cell"),
                F.col("rank").cast("long").alias("rank"), "n_id", "score")
    )


# ---------------------------------------------------------------------------
# cap-overflow census (the brief's no-silent-caps rule)
# ---------------------------------------------------------------------------


def _bucket_overflow(df: DataFrame, keys: list, cap: int, name: str) -> DataFrame:
    """One census row for a capped bucketing: how many buckets exceed
    ``cap`` and how many rows fall beyond it (= pairs/roster entries
    the operator silently drops)."""
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))
    over = F.when(F.col("n") > cap, 1)
    beyond = F.when(F.col("n") > cap, F.col("n") - cap)
    return counts.agg(
        F.lit(name).alias("operator"),
        F.lit(cap).cast("long").alias("cap"),
        F.coalesce(F.sum(over), F.lit(0)).cast("long").alias("buckets_over"),
        F.coalesce(F.sum(beyond), F.lit(0)).cast("long").alias(
            "rows_beyond_cap"
        ),
    )


def dedup_cap_census(docs: DataFrame, emb: DataFrame) -> DataFrame:
    """Per-operator silent-cap overflow census — the run-metrics twin
    of the node-density skew census: every capped dedup/near-dup path
    reports how much a hot bucket actually dropped, instead of
    truncating silently.  One row per capped operator:

    * ``minhash_lsh``        — docs beyond LSH_BUCKET_CAP per (band, bkey)
    * ``simhash_band``       — docs beyond SIMHASH_BUCKET_CAP per (band, bkey)
    * ``emb_cosine_bucket``  — vectors beyond EMB_DUP_BUCKET_CAP per bucket
    * ``exact_dup_roster``   — roster entries beyond DUP_ROSTER_CAP per
      content hash, measured over the *planted* corpus so the overflow
      path itself is driver-verified non-zero (the big planted group
      exceeds the cap by construction)
    * ``ngram_df_filter``    — posting rows of shingles whose document
      frequency exceeds NGRAM_DF_CAP (the n-gram Jaccard join drops
      those shingles wholly; buckets_over = unindexed shingles)

    Each input is one extra aggregation over the operator's own bucket
    key — same shuffle key, map-side combinable, no new scale risk.
    """
    rows = [
        _bucket_overflow(
            _minhash_banded(docs), ["band", "bkey"], LSH_BUCKET_CAP,
            "minhash_lsh",
        ),
        _bucket_overflow(
            _simhash_banded(docs), ["band", "bkey"], SIMHASH_BUCKET_CAP,
            "simhash_band",
        ),
        _bucket_overflow(
            _with_norm(emb).withColumn("bucket", _bucket_expr()),
            ["bucket"], EMB_DUP_BUCKET_CAP, "emb_cosine_bucket",
        ),
        _bucket_overflow(
            _exact_keyed(planted_dup_docs(docs)), ["content_hash"],
            DUP_ROSTER_CAP, "exact_dup_roster",
        ),
        # ngram_df_filter drops WHOLE over-cap posting lists (not just
        # the tail): buckets_over = shingles left unindexed
        _bucket_overflow(
            _ngram_postings(docs), ["sh"], NGRAM_DF_CAP,
            "ngram_df_filter",
        ),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


# ---------------------------------------------------------------------------
# dedup group clustering (connected components over the dup-pair graph)
# ---------------------------------------------------------------------------

CC_MAX_ROUNDS = 64  # pointer-jumping halves tree height: 64 >> log2(any N)


def cc_labels(pairs: DataFrame) -> DataFrame:
    """Distributed connected components over an undirected edge list
    ``(doc_a, doc_b)`` → ``(doc_id, lab)`` where ``lab`` is the
    minimum doc_id reachable from ``doc_id`` (the component id).

    Algorithm: min-label propagation with pointer jumping.  Each
    round (a) every vertex takes the min of its own label and its
    neighbors' labels (one hash shuffle on the edge source), then
    (b) composes the label map with itself — ``lab ← lab(lab(v))``
    (one self-join on the label table) — so a chain of length d
    converges in O(log d) rounds instead of d (the hooking +
    compression idea of MapReduce CC, Kiveris et al. SOCC'14).
    Labels only ever move within a component (every label is a
    member's doc_id), decrease monotonically, and the loop exits at
    the fixpoint, where equality across every edge forces
    label = component min — so the round count never affects the
    result, only how fast it arrives.

    Scale shape: the vertex set is only pair-touched docs (the dup
    graph is sparse — ≪ corpus size); per round two hash shuffles
    keyed on doc_id, lineage truncated per round
    (``materialize``), convergence detected by a counted
    aggregate, never a driver collect of the labels.
    """
    from .lib import materialize

    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("src"),
                         F.col("doc_a").alias("dst"))
        )
        .dropDuplicates(["src", "dst"])
    )
    edges = materialize(edges)
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("lab", F.col("doc_id"))
    )
    for _ in range(CC_MAX_ROUNDS):
        nbr = (
            edges.join(
                labels.select(F.col("doc_id").alias("src"), "lab"), "src"
            )
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("lab").alias("nbr_lab"))
        )
        stepped = labels.join(nbr, "doc_id", "left").select(
            "doc_id",
            F.col("lab").alias("old_lab"),
            F.least("lab", "nbr_lab").alias("lab1"),
        )
        jump = stepped.select(
            F.col("doc_id").alias("j_key"), F.col("lab1").alias("j_lab")
        )
        new = (
            stepped.join(jump, stepped.lab1 == jump.j_key, "left")
            .select(
                "doc_id", "old_lab",
                F.least("lab1", F.coalesce("j_lab", "lab1")).alias("lab"),
            )
        )
        new = materialize(new)
        changed = new.filter(F.col("lab") != F.col("old_lab")).count()
        labels = new.select("doc_id", "lab")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"cc_labels did not converge in {CC_MAX_ROUNDS} rounds"
    )


def doc_dedup_groups(docs: DataFrame) -> DataFrame:
    """Duplicate GROUPS from pairwise dup evidence — the clustering
    stage a production dedup pipeline runs after candidate scoring:
    pairs only say "A≈B"; dropping per pair double-drops transitive
    families, so the decision unit is the connected component.

    Edge set (over the planted corpus, so the groups are
    deterministic and non-trivial at every scale): exact-dup chain
    edges (consecutive doc_ids per content hash — linear, not the
    clique) ∪ MinHash near-dup pairs.  Components via ``cc_labels``;
    one row per grouped doc: the component id (min member doc_id),
    the group size, and ``is_canonical`` = 1 on the member a
    keep-one-per-group policy retains.

    Every vertex in the edge list has ≥1 dup partner, so every
    emitted group has size ≥ 2 (singletons never enter the CC at
    all — at 100 TB that means CC cost scales with the dup-pair
    count, not the corpus).
    """
    planted = planted_dup_docs(docs)
    near = doc_minhash_neardups(planted).select("doc_a", "doc_b")
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    chain = (
        _exact_keyed(planted)
        .withColumn("_prev", F.lag("doc_id").over(w))
        .filter(F.col("_prev").isNotNull())
        .select(F.col("_prev").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    )
    labels = cc_labels(
        near.unionByName(chain).dropDuplicates(["doc_a", "doc_b"])
    )
    gw = Window.partitionBy("group_id")
    return (
        labels.select("doc_id", F.col("lab").alias("group_id"))
        .withColumn("group_size", F.count(F.lit(1)).over(gw).cast("long"))
        .withColumn(
            "is_canonical",
            (F.col("doc_id") == F.col("group_id")).cast("int"),
        )
    )


# ---------------------------------------------------------------------------
# keep/drop decision (quality x language x length x near-dup filter)
# ---------------------------------------------------------------------------

# thresholds calibrated to the driver corpus (quality ∈ [0.5, 1],
# n_tokens ∈ [10, 99]) so EVERY reason code has a verified positive
# path at correctness scale — a threshold no row can cross would
# leave that branch tested only by construction
KEEP_QUALITY_MIN = 0.55  # doc_stats quality floor
KEEP_MIN_TOKENS = 15
KEEP_MAX_TOKENS = 90
KEEP_LANGS = ("en",)  # corpus contract: English training set


def doc_keep_decision(docs: DataFrame) -> DataFrame:
    """The composed filter verdict a training-data pipeline ships:
    per doc, keep ∈ {0, 1} plus the sorted reason codes for a drop —
    ``lang`` (predicted language outside KEEP_LANGS), ``low_quality``
    (doc_stats quality < KEEP_QUALITY_MIN), ``near_dup`` (the doc is
    the dropped side — larger doc_id — of a verified MinHash near-dup
    pair), ``too_long`` / ``too_short`` (token-count bounds).

    Composition, not new machinery: two map-side scans (stats,
    langid) hash-joined on doc_id plus the near-dup loser id set
    (ids only — a semi-join-shaped left join).  Reason order is
    fixed (alphabetical) so the string is deterministic.
    """
    stats = doc_stats(docs).select("doc_id", "n_tokens", "quality")
    lang = doc_langid(docs).select("doc_id", "pred_lang")
    losers = (
        doc_minhash_neardups(docs)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("_dup", F.lit(1))
    )
    j = stats.join(lang, "doc_id").join(losers, "doc_id", "left")
    reasons = F.array_join(
        F.filter(
            F.array(
                F.when(~F.col("pred_lang").isin(*KEEP_LANGS),
                       F.lit("lang")),
                F.when(F.col("quality") < KEEP_QUALITY_MIN,
                       F.lit("low_quality")),
                F.when(F.col("_dup").isNotNull(), F.lit("near_dup")),
                F.when(F.col("n_tokens") > KEEP_MAX_TOKENS,
                       F.lit("too_long")),
                F.when(F.col("n_tokens") < KEEP_MIN_TOKENS,
                       F.lit("too_short")),
            ),
            lambda x: x.isNotNull(),
        ),
        ",",
    )
    return j.select(
        "doc_id",
        (reasons == F.lit("")).cast("int").alias("keep"),
        reasons.alias("reasons"),
    )


# ---------------------------------------------------------------------------
# sequence packing + split assignment (training-set assembly)
# ---------------------------------------------------------------------------

PACK_BUDGET = 256  # tokens per training sequence
PACK_NBUCKETS = 8  # prefix-sum parallelism (production: ~partitions)


def doc_pack_sequences(docs: DataFrame, budget: int = PACK_BUDGET) -> DataFrame:
    """Greedy sequence packing for pretraining batches: lay the docs
    out in a deterministic order — (hash-bucket, doc_id) — and cut
    the concatenated token stream every ``budget`` tokens; each doc
    reports its pack and its start offset inside the pack (a doc may
    straddle a cut — the usual pretraining packing, where sequences
    are filled and documents cross boundaries with an EOS separator).

    Scale shape — a distributed prefix sum, NOT a global window: a
    window with no partitionBy collapses the whole table into ONE
    partition (the classic packing scale-killer).  Instead the
    running token count is computed per hash bucket in parallel
    (window partitioned by bucket), and the global offset of each
    bucket comes from a PACK_NBUCKETS-row aggregate (tiny — one row
    per bucket) cumulated and broadcast back.  That two-level
    prefix-sum is exact: global_prefix = bucket_offset +
    within-bucket prefix, so the result is identical to the
    single-partition plan at any parallelism.
    """
    base = docs.select(
        "doc_id",
        F.size(_tokens(F.col("text"))).cast("long").alias("n_tokens"),
        (_h32(F.col("doc_id").cast("string")) % PACK_NBUCKETS).alias(
            "bucket"
        ),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pre = base.withColumn(
        "pre_b", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )
    # one row per bucket: cumulative offset of everything in earlier
    # buckets (window over PACK_NBUCKETS rows — driver-scale)
    ow = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offs = (
        base.groupBy("bucket")
        .agg(F.sum("n_tokens").alias("btot"))
        .withColumn("boff", F.coalesce(F.sum("btot").over(ow), F.lit(0)))
        .select("bucket", "boff")
    )
    gpre = F.col("boff") + F.col("pre_b")
    return (
        pre.join(F.broadcast(offs), "bucket")
        .select(
            "doc_id",
            F.floor(gpre / budget).cast("long").alias("pack_id"),
            (gpre % budget).cast("long").alias("tok_start"),
            "n_tokens",
        )
    )


# deterministic hash-range held-out split: h32(doc_id) % 100 → 80/10/10
SPLIT_TRAIN_PCT = 80
SPLIT_VAL_PCT = 10  # test = the remainder


def doc_split_assign(docs: DataFrame) -> DataFrame:
    """Reproducible train/val/test assignment by content-independent
    doc_id hash range — membership never changes as the corpus grows
    (the property random sampling lacks), and the split is
    recomputable anywhere from the doc_id alone.  Pure map-side."""
    b = _h32(F.col("doc_id").cast("string")) % 100
    split = (
        F.when(b < SPLIT_TRAIN_PCT, F.lit("train"))
        .when(b < SPLIT_TRAIN_PCT + SPLIT_VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return docs.select(
        "doc_id",
        b.cast("int").alias("split_bucket"),
        split.alias("split"),
    )
