"""Driver contract for the spark-graft builder (PySpark target).

The engine under test is ``keepright_spark`` — a PySpark-native
spatial-join + tiling engine re-expressing keepright's OSM checks.
The OSM input (interleaved text+media docs, BASELINE.json input_hint)
is synthesized deterministically by ``keepright_spark.datagen`` at a
scale matched to the driver's sf dir; the DuckDB oracles run on the
generator's independently-computed relational views.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from keepright_spark import doc_oracles, docops, docs_store
from keepright_spark import media as media_mod
from keepright_spark import oracles, pipeline, raster
from keepright_spark.datagen import ensure_dataset, scale_for_sf_dir

# checks with both a Spark implementation and a DuckDB oracle
CHECKS_WITH_ORACLE = [
    20, 30, 40, 50, 60, 70, 90, 100, 110, 120, 130, 150, 160, 170, 180, 190,
    210, 220, 230, 270, 280, 290, 300, 310, 320, 350, 360, 370, 380, 390, 400, 420,
]
# checks implemented in Spark only (rows-only verification)
CHECKS_ROWS_ONLY: list[int] = []

# multimodal operators over the media spans (keepright_spark.media):
# name -> (engine fn over the tiled media view, oracle fn)
MEDIA_QUERIES = {
    "kr_media_census": (media_mod.media_census, "oracle_media_census"),
    "kr_media_dups": (media_mod.media_dup_refs, "oracle_media_dups"),
    "kr_media_integrity": (media_mod.media_integrity, "oracle_media_integrity"),
}

# media transform plumbing (decode → resize / frame-sample / features)
# over DISTINCT refs, run through the deterministic fake codec — the
# declared environmental boundary (no codec libs here) exercised with
# the md5-derived stand-in; the oracle recomputes the same md5
# prefixes DuckDB-side.  name -> (engine fn over the media view,
# oracle fn)
MEDIA_REF_QUERIES = {
    "kr_media_resize": (media_mod.media_resize, "oracle_media_resize"),
    "kr_media_frames": (media_mod.media_frame_sample, "oracle_media_frames"),
    "kr_media_features": (media_mod.media_features, "oracle_media_features"),
}

# training-data-pipeline operators over the driver's documents /
# embeddings tables (keepright_spark.docops): name -> (input loader,
# operator, doc_oracles fn).  Oracle SQL references the driver's
# pre-registered `documents` / `embeddings` views.
DOC_QUERIES = {
    "kr_doc_stats": (docops.documents, docops.doc_stats, "oracle_doc_stats"),
    # token counting: whitespace + a GPT-2-style BPE pre-tokenizer
    # regex (same pattern string inlined into the oracle SQL)
    "kr_doc_token_stats": (docops.documents, docops.doc_token_stats,
                           "oracle_doc_token_stats"),
    "kr_doc_langid": (docops.documents, docops.doc_langid,
                      "oracle_doc_langid"),
    "kr_doc_fingerprint": (docops.documents, docops.doc_fingerprint,
                           "oracle_doc_fingerprint"),
    "kr_doc_simhash": (docops.documents, docops.doc_simhash,
                       "oracle_doc_simhash"),
    "kr_doc_exact_dups": (docops.documents, docops.doc_exact_dups,
                          "oracle_doc_exact_dups"),
    # positive-path dedup: deterministic planted clones (the raw corpus
    # has no duplicate texts at correctness scale, so the entry above
    # only proves the empty case); exercises the roster cap
    "kr_doc_exact_dups_planted": (docops.documents,
                                  docops.doc_exact_dups_planted,
                                  "oracle_doc_exact_dups_planted"),
    # silent-cap overflow census (loader None: fn takes (spark, sf_dir))
    "kr_doc_cap_census": (None, None, "oracle_doc_cap_census"),
    "kr_doc_minhash_neardups": (docops.documents, docops.doc_minhash_neardups,
                                "oracle_doc_minhash_neardups"),
    # clustering stage after pairwise dup evidence: connected
    # components (pointer-jumping min-label propagation) over the
    # exact-chain ∪ minhash-pair edge set of the planted corpus;
    # oracle re-derives components via a recursive closure CTE
    "kr_doc_dedup_groups": (docops.documents, docops.doc_dedup_groups,
                            "oracle_doc_dedup_groups"),
    # composed keep/drop verdict (quality x language x length x
    # near-dup loser) with deterministic reason codes
    "kr_doc_keep": (docops.documents, docops.doc_keep_decision,
                    "oracle_doc_keep"),
    # training-set assembly: greedy sequence packing via a two-level
    # distributed prefix sum (never a single-partition global window);
    # the oracle computes the global prefix directly, proving the
    # bucket-parallel decomposition exact
    "kr_doc_pack": (docops.documents, docops.doc_pack_sequences,
                    "oracle_doc_pack_sequences"),
    # reproducible hash-range train/val/test assignment
    "kr_doc_split": (docops.documents, docops.doc_split_assign,
                     "oracle_doc_split_assign"),
    # sketch-free twin: inverted index on discriminative shingles
    # (df <= NGRAM_DF_CAP), same exact-Jaccard verify
    "kr_doc_ngram_jaccard_neardups": (docops.documents,
                                      docops.doc_ngram_jaccard_neardups,
                                      "oracle_doc_ngram_jaccard_neardups"),
    "kr_doc_simhash_neardups": (docops.documents, docops.doc_simhash_neardups,
                                "oracle_doc_simhash_neardups"),
    "kr_emb_knn_brute": (docops.embeddings, docops.emb_knn_brute,
                         "oracle_emb_knn_brute"),
    "kr_emb_ann_lsh": (docops.embeddings, docops.emb_ann_lsh,
                       "oracle_emb_ann_lsh"),
    # coarse-quantizer twin: IVF inverted lists (deterministic medoid
    # seeds + one exact-arithmetic Lloyd step), nprobe-nearest search
    "kr_emb_ann_ivf": (docops.embeddings, docops.emb_ann_ivf,
                       "oracle_emb_ann_ivf"),
    "kr_emb_cosine_neardups": (docops.embeddings, docops.emb_cosine_neardups,
                               "oracle_emb_cosine_neardups"),
}


# raster↔vector zonal join (keepright_spark.raster): the fourth
# north-star operator family; oracle in keepright_spark.oracles
RASTER_QUERIES = {
    "kr_zonal_stats": (raster.zonal_stats, "oracle_zonal_stats"),
}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full check suite on the tiny synthetic OSM world."""
    d = ensure_dataset("t")
    return pipeline.run_dataset(spark, d)


def _mk_check_query(cid: int) -> Callable[[SparkSession, str], DataFrame]:
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        d = ensure_dataset(scale_for_sf_dir(sf_dir))
        return pipeline.run_dataset(spark, d, [cid])

    return q


def _mk_media_query(fn) -> Callable[[SparkSession, str], DataFrame]:
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        d = ensure_dataset(scale_for_sf_dir(sf_dir))
        return fn(media_mod.tiled_media(spark, d))

    return q


def _mk_media_ref_query(fn) -> Callable[[SparkSession, str], DataFrame]:
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        d = ensure_dataset(scale_for_sf_dir(sf_dir))
        docs = docs_store.read_docs(spark, d)
        return fn(
            media_mod.media_view(docs),
            batch_decoder=media_mod.fake_decode_batch,
        )

    return q


def _mk_raster_query(fn) -> Callable[[SparkSession, str], DataFrame]:
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        d = ensure_dataset(scale_for_sf_dir(sf_dir))
        return fn(spark, d)

    return q


def _mk_doc_query(loader, fn) -> Callable[[SparkSession, str], DataFrame]:
    if loader is None and fn is None:
        # census query: needs both tables
        def q(spark: SparkSession, sf_dir: str) -> DataFrame:
            return docops.dedup_cap_census(
                docops.documents(spark, sf_dir),
                docops.embeddings(spark, sf_dir),
            )

        return q

    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        return fn(loader(spark, sf_dir))

    return q


def _follower_cycle_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I2 / the streaming follower as a driver-verified row: clone the
    dataset, run an initial cycle, plant a deterministic tombstone
    drop (the FOLLOWER_TOMBSTONES smallest orphan node ids — the same
    rule as oracles.follower_tombstone_sql), drain ONE follower cycle
    (streaming.process_available), and return the live error set.
    The oracle is from-scratch 0020 over the merged world — green
    means the incremental path converges to the batch path."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from keepright_spark import diff, lifecycle, streaming
    from keepright_spark.datagen import DATA_ROOT
    from keepright_spark.errors import ERROR_COLS
    from keepright_spark.oracles import FOLLOWER_TOMBSTONES

    scale = scale_for_sf_dir(sf_dir)
    src = ensure_dataset(scale)
    work = os.path.join(DATA_ROOT, f"follower_{scale}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    for rel, _, _ in docs_store.docs_files(src):  # the generator's plain docs
        copy = shutil.copytree if os.path.isdir(os.path.join(src, rel)) else shutil.copy
        copy(os.path.join(src, rel), os.path.join(work, rel))
    shutil.copy(os.path.join(src, "MANIFEST.json"), work)
    state = os.path.join(work, "state")
    feed = os.path.join(work, "feed")
    os.makedirs(feed)
    diff.diff_update(spark, work, state, check_ids=[20])

    # tombstones: smallest orphan node ids in a duplicate spot — no
    # way/relation refs (the drop cannot move way/relation tiling),
    # and each sits where another node does, so the 0020 set provably
    # changes (same rule as oracles.follower_tombstone_sql)
    nodes = spark.read.parquet(f"{src}/oracle/nodes.parquet")
    wn = spark.read.parquet(f"{src}/oracle/way_nodes.parquet")
    rm = spark.read.parquet(f"{src}/oracle/relation_members.parquet")
    dup_spots = (
        nodes.groupBy("tile", "lon", "lat")
        .agg(F.count("id").alias("c"))
        .filter(F.col("c") > 1)
        .select("tile", "lon", "lat")
    )
    orphans = (
        nodes.join(dup_spots, ["tile", "lon", "lat"])
        .select("id").distinct()
        .join(wn.select(F.col("node_id").alias("id")).distinct(),
              "id", "left_anti")
        .join(rm.filter(F.col("member_type") == "N")
              .select(F.col("member_id").alias("id")).distinct(),
              "id", "left_anti")
        .orderBy("id")
        .limit(FOLLOWER_TOMBSTONES)
    )
    ids = [r["id"] for r in orphans.collect()]
    spans_t = docs_store.read_docs(spark, work).schema["spans"].dataType
    batch = (
        spark.createDataFrame([(f"node/{i}",) for i in ids],
                              "doc_id string")
        .withColumn("spans", F.expr("array()").cast(spans_t))
    )
    drop_tmp = os.path.join(work, "drop")
    batch.coalesce(1).write.mode("overwrite").parquet(drop_tmp)
    for fn in os.listdir(drop_tmp):
        if fn.endswith(".parquet"):
            shutil.copy(os.path.join(drop_tmp, fn),
                        os.path.join(feed, "drop1_" + fn))
    streaming.process_available(spark, work, state, feed, check_ids=[20])

    errs = spark.read.parquet(lifecycle.current_errors_path(state))
    return errs.filter(F.col("state") != "cleared").select(*ERROR_COLS)


def _deleted_items_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Check 0010 (deleted items) on the planted-deletion world: the
    deterministic victim docs (check_0010.planted_victims) are removed
    before the scan, so the dangling-reference clauses have a positive
    path on a world that is otherwise fully consistent.  Oracle:
    oracles.oracle_0010_deleted derives the same rule in SQL."""
    from keepright_spark.checks import check_0010

    src = ensure_dataset(scale_for_sf_dir(sf_dir))
    docs = docs_store.read_docs(spark, src)
    return check_0010.run_planted(docs)


def _websites_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Check 0410 (websites) against the dataset's deterministic
    fetch cache (webcache.parquet) — disabled in the default suite
    like the reference (config/error_types.php:256), exposed as a
    standalone driver-verified operator."""
    from keepright_spark.checks import check_0410

    d = ensure_dataset(scale_for_sf_dir(sf_dir))
    v = pipeline.tiled_views(spark, d)
    webcache = spark.read.parquet(f"{d}/webcache.parquet")
    return check_0410.run_cached(v, webcache)


def _span_profile_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc span-sequence profile: the row-level (kind, text,
    media_ref, order) invariant as a queryable fingerprint column —
    oracle equality on it is span-sequence equality for every doc."""
    d = ensure_dataset(scale_for_sf_dir(sf_dir))
    return media_mod.doc_span_profile(docs_store.read_docs(spark, d))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    ensure_dataset("s")  # the oracle side reads files from disk
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for cid in CHECKS_WITH_ORACLE + CHECKS_ROWS_ONLY:
        out[f"kr_{cid:04d}"] = _mk_check_query(cid)
    for name, (fn, _oname) in MEDIA_QUERIES.items():
        out[name] = _mk_media_query(fn)
    for name, (fn, _oname) in MEDIA_REF_QUERIES.items():
        out[name] = _mk_media_ref_query(fn)
    for name, (loader, fn, _oname) in DOC_QUERIES.items():
        out[name] = _mk_doc_query(loader, fn)
    for name, (rfn, _oname) in RASTER_QUERIES.items():
        out[name] = _mk_raster_query(rfn)
    out["kr_follower_cycle"] = _follower_cycle_query
    out["kr_0010"] = _deleted_items_query
    out["kr_0410"] = _websites_query
    out["kr_doc_span_profile"] = _span_profile_query
    return out


def oracle_sql() -> dict[str, str]:
    d = ensure_dataset("s")
    out: dict[str, str] = {}
    for cid in CHECKS_WITH_ORACLE:
        out[f"kr_{cid:04d}"] = getattr(oracles, f"oracle_{cid:04d}")(d)
    for name, (_fn, oname) in MEDIA_QUERIES.items():
        out[name] = getattr(oracles, oname)(d)
    for name, (_fn, oname) in MEDIA_REF_QUERIES.items():
        out[name] = getattr(oracles, oname)(d)
    for name, (_loader, _fn, oname) in DOC_QUERIES.items():
        out[name] = getattr(doc_oracles, oname)(d)
    for name, (_rfn, oname) in RASTER_QUERIES.items():
        out[name] = getattr(oracles, oname)(d)
    out["kr_follower_cycle"] = oracles.oracle_follower_cycle(d)
    out["kr_0010"] = oracles.oracle_0010_deleted(d)
    out["kr_0410"] = oracles.oracle_0410(d)
    out["kr_doc_span_profile"] = oracles.oracle_doc_span_profile(d)
    return out
