"""Multimodal operators: census/dedup/integrity + decode plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from keepright_spark import docs_store, media


def test_media_view_and_census(spark, tiny_dir):
    tm = media.tiled_media(spark, tiny_dir)
    assert tm.count() > 0
    c = media.media_census(tm)
    rows = c.collect()
    assert {r["mime"] for r in rows} <= {"image/jpeg", "audio/ogg", "video/mp4"}
    assert all(r["n_spans"] >= r["n_docs"] for r in rows)


def test_media_anomaly_fixtures(spark, tiny_dir):
    """The generator plants shared refs (oid%101==0) and dangling refs
    (oid%103==0); the operators must surface them."""
    tm = media.tiled_media(spark, tiny_dir)
    dups = media.media_dup_refs(tm)
    integ = media.media_integrity(tm)
    assert dups.filter(F.col("media_ref").startswith("media://shared")).count() > 0
    kinds = {r["violation"] for r in integ.select("violation").distinct().collect()}
    assert "dangling_ref" in kinds and "mime_conflict" in kinds


def test_decode_plumbing(spark, tiny_dir):
    tm = media.tiled_media(spark, tiny_dir).limit(20)

    # the stub decoder raises at the codec boundary
    with pytest.raises(Exception, match="NotImplementedError|media byte"):
        media.decode_media(tm).collect()

    # a plugged-in decoder flows through the same mapInPandas
    # plumbing.  The fake codec is *content-derived* (deterministic
    # bytes -> width/height/feature via md5), so the end-to-end path —
    # Arrow batch in, DECODED_SCHEMA batch out, per-row values — is
    # exercised exactly as a real image decoder would be.
    import hashlib

    def _decode_one(ref):
        h = hashlib.md5((ref or "").encode()).digest()
        return (
            h[0] % 512 + 1,  # width
            h[1] % 512 + 1,  # height
            h[2] % 8 + 1,  # n_frames
            [round(b / 255.0, 6) for b in h[3:7]],  # feature
        )

    def fake_decoder(pdf):
        import pandas as pd

        decoded = [_decode_one(r) for r in pdf["media_ref"]]
        return pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "media_ref": pdf["media_ref"],
                "mime": pdf["mime"],
                "width": [d[0] for d in decoded],
                "height": [d[1] for d in decoded],
                "n_frames": [d[2] for d in decoded],
                "feature": [d[3] for d in decoded],
            }
        )

    out = media.decode_media(tm, fake_decoder)
    rows = out.collect()
    assert len(rows) == 20
    assert dict(out.dtypes)["feature"] == "array<float>"
    # per-row values survive the Arrow round-trip bit-exactly
    for r in rows:
        w, h, nf, feat = _decode_one(r["media_ref"])
        assert (r["width"], r["height"], r["n_frames"]) == (w, h, nf)
        assert [round(x, 6) for x in r["feature"]] == [
            round(float(__import__("numpy").float32(v)), 6) for v in feat
        ]


def test_media_transforms(spark, tiny_dir):
    """Resize / frame-sample / features over the fake codec: decode is
    per DISTINCT (ref, mime); the transform math honors its contracts."""
    docs = docs_store.read_docs(spark, tiny_dir)
    mv = media.media_view(docs)
    n_refs = (
        mv.filter(F.col("media_ref").isNotNull())
        .select("media_ref", "mime")
        .distinct()
        .count()
    )

    dec = media.decode_refs(mv, media.fake_decode_batch)
    assert dec.count() == n_refs  # one decode per distinct ref+mime

    rs = media.media_resize(mv, batch_decoder=media.fake_decode_batch)
    # decode is the one Arrow batch op; post-decode math stays native
    plan = rs._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert plan.count("MapInPandas") == 1
    rows = rs.collect()
    assert len(rows) == n_refs
    for r in rows:
        assert 1 <= r["out_w"] <= media.RESIZE_MAX_PX or r["out_w"] == r["width"]
        assert max(r["out_w"], r["out_h"]) <= max(
            r["width"], r["height"]
        )  # never upscale
        if max(r["width"], r["height"]) > media.RESIZE_MAX_PX:
            m = max(r["width"], r["height"])
            assert r["out_w"] == max(1, r["width"] * media.RESIZE_MAX_PX // m)
            assert r["out_h"] == max(1, r["height"] * media.RESIZE_MAX_PX // m)
        else:
            assert (r["out_w"], r["out_h"]) == (r["width"], r["height"])

    fs = media.media_frame_sample(mv, batch_decoder=media.fake_decode_batch)
    frows = fs.collect()
    by_ref: dict = {}
    for r in frows:
        assert 0 <= r["frame_idx"] < r["n_frames"]
        by_ref.setdefault((r["media_ref"], r["mime"]), []).append(r["frame_idx"])
    assert len(by_ref) == n_refs
    for (_ref, mime), idxs in by_ref.items():
        assert len(idxs) == len(set(idxs)) <= media.FRAME_SAMPLE_K
        assert 0 in idxs  # stride sampling always keeps frame 0
        if mime.startswith("image/"):
            assert idxs == [0]

    ft = media.media_features(mv, batch_decoder=media.fake_decode_batch)
    for r in ft.collect():
        vals = [int(v) for v in r["feature_q"].split(",")]
        assert r["dim"] == media.FAKE_FEATURE_DIM == len(vals)
        assert all(0 <= v <= 255 for v in vals)  # quantized uint8 range
        assert r["ssq"] == sum(v * v for v in vals)


def test_doc_span_profile(spark, tiny_dir):
    """Span-sequence profile vs the DuckDB oracle on the tiny world,
    plus the codec invariants it encodes: dense 0-based offsets
    everywhere, counts consistent, fingerprint unique per distinct
    sequence."""
    import duckdb

    from keepright_spark.oracles import oracle_doc_span_profile

    docs = docs_store.read_docs(spark, tiny_dir)
    got = media.doc_span_profile(docs).toPandas()
    con = duckdb.connect()
    exp = con.sql(oracle_doc_span_profile(tiny_dir)).df()

    def norm(d):
        d = d.reindex(sorted(d.columns), axis=1).astype(str)
        return d.sort_values(list(d.columns)).reset_index(drop=True)

    assert norm(got).equals(norm(exp))
    assert (got.offsets_dense == 1).all()
    assert (got.n_spans >= got.n_text + got.n_media).all()
    assert (got.kind_seq.str.len() == got.n_spans).all()
    # the fingerprint separates documents: collisions only for
    # identical span sequences, and the tiny world has none
    assert got.span_fingerprint.nunique() == len(got)
