"""Multimodal (media-span) operators over the interleaved docs table.

The input docs interleave text and media spans (BASELINE.json
input_hint); the relational decode (codec.py) carries media spans
through untouched (pass-through invariant, tests/test_codec.py).
These operators *compute over* the media column — the engine-grade
analogs of a training-data pipeline's media bookkeeping:

* ``media_view``    — media spans as a relational view
  (object_type, id, mime, caption, media_ref, offset), native
  explode/split only.
* ``tiled_media``   — the view keyed by tile via the object→tile
  assignment (margin duplication included, like every other view).
* ``media_census``  — per (tile, mime) span/ref/doc counts: the
  per-partition media profile written next to check metrics.
* ``media_dup_refs``— cross-doc exact duplicate detection on
  media_ref (content-hash refs ⇒ ref equality = content equality):
  hash-shuffle on (tile, media_ref), never all-pairs — the media twin
  of the error-table exact dedup.
* ``media_integrity`` — referential hygiene: dangling refs (media
  span without a ref) and mime conflicts (one ref claiming several
  mimes).

Decode / feature-extraction of the actual bytes is out of scope in
this container (no image/audio libs): ``decode_media_stub`` keeps the
Spark-side plumbing (schema, batch shape, mapInPandas signature) real
and testable while raising NotImplementedError at the codec boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import docs_store, pipeline


def media_view(docs: DataFrame) -> DataFrame:
    s = docs.select(
        F.split("doc_id", "/").getItem(0).alias("object_type"),
        F.split("doc_id", "/").getItem(1).cast("long").alias("id"),
        F.col("doc_id"),
        F.explode("spans").alias("span"),
    ).filter(F.col("span.kind") == "media")
    return s.select(
        "object_type",
        "id",
        "doc_id",
        F.split(F.col("span.text"), "\t").getItem(0).alias("mime"),
        F.split(F.col("span.text"), "\t").getItem(1).alias("caption"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


def tiled_media(spark: SparkSession, dataset_dir: str) -> DataFrame:
    """media_view × object tile assignment (from the materialized
    engine views, margin duplication included)."""
    docs = docs_store.read_docs(spark, dataset_dir)
    mv = media_view(docs)
    v = pipeline.tiled_views(spark, dataset_dir, share_partitioning=False)
    ot = (
        v.nodes.select(F.lit("node").alias("object_type"), "id", "tile")
        .unionByName(v.ways.select(F.lit("way").alias("object_type"), "id", "tile"))
        .unionByName(
            v.relations.select(
                F.lit("relation").alias("object_type"), "id", "tile"
            )
        )
        .distinct()
    )
    return mv.join(ot, ["object_type", "id"])


def media_census(tm: DataFrame) -> DataFrame:
    """Per-(tile, mime) profile: spans, distinct refs, docs."""
    return (
        tm.groupBy("tile", "mime")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.count_distinct("media_ref").alias("n_refs"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
    )


DUP_ROSTER_CAP = 20


def media_dup_refs(tm: DataFrame) -> DataFrame:
    """Refs shared by more than one doc in a tile (exact dedup
    candidates; refs are content hashes).

    ``n_docs`` is exact; ``docs`` is a deterministic top-K sample
    (first ``DUP_ROSTER_CAP`` doc_ids in sort order).  The cap is
    load-bearing at scale: a planet-hot ref (one logo referenced by
    10^7 docs) would otherwise produce one multi-GB aggregation value
    in a single task.  The row_number/count windows stay linear in the
    hot key's rows; the aggregation buffer is bounded by the cap."""
    from pyspark.sql import Window

    base = (
        tm.filter(F.col("media_ref").isNotNull())
        .select("tile", "media_ref", "doc_id")
        .distinct()
    )
    part = Window.partitionBy("tile", "media_ref")
    ranked = base.withColumn(
        "_rn", F.row_number().over(part.orderBy("doc_id"))
    ).withColumn("_total", F.count(F.lit(1)).over(part))
    return (
        ranked.filter(F.col("_rn") <= DUP_ROSTER_CAP)
        .groupBy("tile", "media_ref")
        .agg(
            F.max("_total").alias("n_docs"),
            F.array_join(F.sort_array(F.collect_list("doc_id")), ",").alias(
                "docs"
            ),
        )
        .filter(F.col("n_docs") > 1)
        .withColumn("n_docs", F.col("n_docs").cast("long"))
    )


def media_integrity(tm: DataFrame) -> DataFrame:
    """Hygiene violations: (tile, violation, doc_id, media_ref).

    * ``dangling_ref``  — a media span without a media_ref (doc_id
      set, media_ref NULL);
    * ``mime_conflict`` — a ref claimed under >1 mime (media_ref set,
      doc_id NULL).
    """
    dangling = (
        tm.filter(F.col("media_ref").isNull())
        .select(
            "tile",
            F.lit("dangling_ref").alias("violation"),
            "doc_id",
            F.lit(None).cast("string").alias("media_ref"),
        )
        .distinct()
    )
    conflicts = (
        tm.filter(F.col("media_ref").isNotNull())
        .groupBy("tile", "media_ref")
        .agg(F.count_distinct("mime").alias("nm"))
        .filter(F.col("nm") > 1)
        .select(
            "tile",
            F.lit("mime_conflict").alias("violation"),
            F.lit(None).cast("string").alias("doc_id"),
            "media_ref",
        )
    )
    return dangling.unionByName(conflicts)


# ---------------------------------------------------------------------------
# Decode plumbing (stubbed codec: no media libs in this container)
# ---------------------------------------------------------------------------

DECODED_SCHEMA = (
    "doc_id string, media_ref string, mime string, "
    "width int, height int, n_frames int, feature array<float>"
)


def decode_media_batch(pdf):
    """The per-batch decode hook (mapInPandas contract): takes the
    (doc_id, media_ref, mime) pandas frame of one Arrow batch and
    returns DECODED_SCHEMA rows.  Real deployments plug an image /
    audio codec in here; this container has none."""
    raise NotImplementedError(
        "media byte decoding requires image/audio codecs not present "
        "in this environment; plug a decoder into decode_media_batch"
    )


def decode_media(tm: DataFrame, batch_decoder=None) -> DataFrame:
    """mapInPandas plumbing for media decode / feature extraction.

    Arrow-batched, one task per partition of the (tile, media_ref)
    shuffle — the shape a real decoder runs in.  ``batch_decoder``
    defaults to the stub that raises NotImplementedError."""
    decoder = batch_decoder or decode_media_batch

    def run(batches):
        for pdf in batches:
            yield decoder(pdf)

    return (
        tm.select("doc_id", "media_ref", "mime")
        .repartition("media_ref")
        .mapInPandas(run, DECODED_SCHEMA)
    )


# ---------------------------------------------------------------------------
# Transforms over decoded media: resize plan / frame sample / features
# ---------------------------------------------------------------------------

# the deterministic fake codec's value ranges (md5-derived; the DuckDB
# oracle twins recompute the same md5 prefixes — keep in sync with
# oracles._media_dec_preamble)
FAKE_MAX_DIM = 2032  # width/height in [16, 2047]
FAKE_MAX_FRAMES = 240  # non-image n_frames in [1, 240]
FAKE_FEATURE_DIM = 8  # quantized uint8 feature vector length

RESIZE_MAX_PX = 256
FRAME_SAMPLE_K = 8

REF_DECODED_SCHEMA = (
    "media_ref string, mime string, "
    "width int, height int, n_frames int, feature array<float>"
)


def fake_decode_batch(pdf):
    """Deterministic content-derived fake codec (the declared
    environmental boundary made testable): dims / frame count /
    quantized features derived from md5(media_ref), the engine↔oracle
    hash trick used throughout docops.  Implements the same batch
    contract as ``decode_media_batch`` — a real image/audio decoder
    drops in with the identical signature.  Passes through whatever id
    columns the batch carries (doc-level or ref-level plumbing)."""
    import hashlib

    def h(s: str) -> str:
        return hashlib.md5(s.encode()).hexdigest()

    width, height, frames, feats = [], [], [], []
    for ref, mime in zip(pdf["media_ref"], pdf["mime"]):
        hx = h(str(ref))
        width.append(16 + int(hx[:4], 16) % FAKE_MAX_DIM)
        height.append(16 + int(hx[4:8], 16) % FAKE_MAX_DIM)
        frames.append(
            1
            if str(mime).startswith("image/")
            else 1 + int(hx[8:12], 16) % FAKE_MAX_FRAMES
        )
        feats.append(
            [
                float(int(h(f"{ref}:f{j}")[:4], 16) % 256)
                for j in range(FAKE_FEATURE_DIM)
            ]
        )
    out = pdf.copy()
    out["width"] = width
    out["height"] = height
    out["n_frames"] = frames
    out["feature"] = feats
    return out


def decode_refs(mv: DataFrame, batch_decoder=None) -> DataFrame:
    """Decode each DISTINCT (media_ref, mime) exactly once.

    This is the scale-load-bearing shape of the transform family: refs
    are content hashes, so a planet-hot ref (one logo in 10^7 docs)
    decodes once, not once per referencing doc; doc-level results are
    a join back on media_ref.  Arrow-batched mapInPandas after a
    hash shuffle on media_ref — no skew (each key is one row)."""
    decoder = batch_decoder or decode_media_batch

    def run(batches):
        for pdf in batches:
            yield decoder(pdf)

    return (
        mv.filter(F.col("media_ref").isNotNull())
        .select("media_ref", "mime")
        .distinct()
        .repartition("media_ref")
        .mapInPandas(run, REF_DECODED_SCHEMA)
    )


def media_resize(
    mv: DataFrame, max_px: int = RESIZE_MAX_PX, batch_decoder=None
) -> DataFrame:
    """Aspect-preserving fit-into-``max_px``-box resize plan per
    distinct ref: (media_ref, mime, width, height, out_w, out_h).

    The byte transform lives in the decoder batch hook (same
    mapInPandas task); the *geometry* of the resize — never upscale,
    floor to integer pixels, floor(d·max_px / max(w,h)) clamped to
    ≥1 — is native column math so the plan stays in codegen."""
    d = decode_refs(mv, batch_decoder)
    m = F.greatest("width", "height")

    def fit(c: str):
        scaled = F.greatest(
            F.lit(1).cast("int"),
            F.floor(F.col(c) * max_px / m).cast("int"),
        )
        return F.when(m <= max_px, F.col(c)).otherwise(scaled).alias(
            "out_" + ("w" if c == "width" else "h")
        )

    return d.select(
        "media_ref", "mime", "width", "height", fit("width"), fit("height")
    )


def media_frame_sample(
    mv: DataFrame, k: int = FRAME_SAMPLE_K, batch_decoder=None
) -> DataFrame:
    """Uniform-stride frame sampling plan per distinct (video/audio or
    image) ref: up to ``k`` distinct indices floor(i·n_frames/k),
    i ∈ [0, k) — the standard training-data frame subsampler.  Images
    (n_frames=1) yield the single frame 0.  Index math is exact (k a
    power of two ⇒ the double division is exact), native, exploded
    JVM-side."""
    d = decode_refs(mv, batch_decoder)
    idx = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.lit(k - 1)),
            lambda i: F.floor(i * F.col("n_frames") / k).cast("int"),
        )
    )
    return d.select(
        "media_ref", "mime", "n_frames", F.explode(idx).alias("frame_idx")
    )


def media_features(mv: DataFrame, batch_decoder=None) -> DataFrame:
    """Feature-extraction plumbing per distinct ref: the decoder batch
    hook emits a fixed-dim quantized feature vector (uint8-valued, the
    shape CLIP-style extractors ship); this operator validates and
    summarizes it natively — (media_ref, mime, dim, ssq, feature_q)
    with ssq = Σv² (exact integer) and feature_q the comma-joined
    quantized values."""
    d = decode_refs(mv, batch_decoder)
    ints = F.transform(F.col("feature"), lambda x: x.cast("long"))
    return d.select(
        "media_ref",
        "mime",
        F.size("feature").alias("dim"),
        F.aggregate(
            ints, F.lit(0).cast("long"), lambda acc, x: acc + x * x
        ).alias("ssq"),
        F.array_join(
            F.transform(ints, lambda x: x.cast("string")), ","
        ).alias("feature_q"),
    )


def doc_span_profile(docs: DataFrame) -> DataFrame:
    """Per-document span-sequence profile over the interleaved
    text+media docs table — the engine's row-level invariant made a
    queryable surface: ``span_fingerprint`` is the md5 of the ordered
    (kind, text, media_ref) sequence, so engine↔oracle equality on
    that column IS span-sequence equality (kind, text, media_ref,
    order) for every document (the codec round-trip contract,
    codec.py:9-20); ``offsets_dense`` checks the codec's dense
    0-based offset rule per row.

    All native array expressions over the spans column — one
    map-side scan, no explode, no shuffle, no Python.
    """
    sp = F.col("spans")
    offs = F.transform(sp, lambda s: s["offset"])
    seq = F.array_join(
        F.transform(
            sp,
            lambda s: F.concat_ws(
                "\x1f",
                s["kind"],
                F.coalesce(s["text"], F.lit("")),
                F.coalesce(s["media_ref"], F.lit("")),
            ),
        ),
        "\x1e",
    )
    dense = F.when(F.size(sp) == 0, F.lit(1)).otherwise(
        (offs == F.sequence(F.lit(0), F.size(sp) - 1)).cast("int")
    )
    return docs.select(
        "doc_id",
        F.size(sp).cast("long").alias("n_spans"),
        F.size(F.filter(sp, lambda s: s["kind"] == F.lit("text")))
        .cast("long").alias("n_text"),
        F.size(F.filter(sp, lambda s: s["kind"] == F.lit("media")))
        .cast("long").alias("n_media"),
        F.aggregate(
            F.filter(sp, lambda s: s["kind"] == F.lit("text")),
            F.lit(0).cast("long"),
            lambda a, s: a + F.length(F.coalesce(s["text"], F.lit(""))),
        ).alias("text_chars"),
        F.array_join(
            F.transform(sp, lambda s: F.substring(s["kind"], 1, 1)), ""
        ).alias("kind_seq"),
        F.md5(F.encode(seq, "UTF-8")).alias("span_fingerprint"),
        dense.alias("offsets_dense"),
    )
