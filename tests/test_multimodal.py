"""Multimodal column plumbing: binary payloads + mapInPandas feature
extraction (decode itself is a deterministic stub — codecs not in
this container)."""

from __future__ import annotations

import hashlib

import pytest

from local_stream_stack_spark.operators.multimodal import (
    attach_binary_payload,
    decode_stub,
    extract_features,
)


def test_attach_and_extract(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(20)
    mm = attach_binary_payload(docs, text_col="text", id_col="doc_id")
    assert [f.dataType.simpleString() for f in mm.schema.fields] == [
        "bigint",
        "binary",
        "map<string,string>",
    ]
    feats = extract_features(mm)
    rows = feats.collect()
    assert len(rows) == 20
    originals = {r.doc_id: r.text for r in docs.collect()}
    for r in rows:
        raw = originals[r.id].encode("utf-8")
        assert r.n_bytes == len(raw)
        assert r.checksum == hashlib.md5(raw).hexdigest()
        assert r.modality == "image"
        assert r.width > 0 and r.height > 0 and r.duration_ms == 0


def test_decode_stub_unknown_modality():
    with pytest.raises(NotImplementedError):
        decode_stub(b"xx", "hologram")


def test_feature_extraction_is_deterministic(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(5)
    mm = attach_binary_payload(docs, text_col="text", id_col="doc_id")
    a = {r.id: (r.checksum, r.width, r.height) for r in extract_features(mm).collect()}
    b = {r.id: (r.checksum, r.width, r.height) for r in extract_features(mm).collect()}
    assert a == b


def test_resize_images_schema_and_determinism(spark, sf_dir):
    from local_stream_stack_spark.operators.multimodal import resize_images

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(8)
    mm = attach_binary_payload(docs, text_col="text", id_col="doc_id")
    out = resize_images(mm, 32, 32)
    assert out.schema == mm.schema
    rows = {r.id: (bytes(r.payload), dict(r.meta)) for r in out.collect()}
    again = {r.id: (bytes(r.payload), dict(r.meta)) for r in resize_images(mm, 32, 32).collect()}
    assert rows == again
    other = {r.id: bytes(r.payload) for r in resize_images(mm, 64, 64).collect()}
    for i, (payload, meta) in rows.items():
        assert meta["resized_to"] == "32x32"
        assert payload != other[i]  # dims feed the stub


def test_sample_frames_expansion(spark, sf_dir):
    from local_stream_stack_spark.operators.multimodal import (
        decode_stub,
        sample_frames,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(6)
    mm = attach_binary_payload(docs, text_col="text", id_col="doc_id", modality="video")
    frames = sample_frames(mm, every_ms=1000).collect()
    originals = {r.doc_id: r.text.encode("utf-8") for r in docs.collect()}
    by_id = {}
    for r in frames:
        by_id.setdefault(r.id, []).append((r.frame_idx, r.frame_ms))
    for i, payload in originals.items():
        duration = decode_stub(payload, "video")["duration_ms"]
        expect = len(range(0, max(duration, 1), 1000))
        assert len(by_id[i]) == expect
        assert by_id[i] == [(k, k * 1000) for k in range(expect)]


def test_binaryfile_source_feeds_multimodal_pipeline(spark, tmp_path):
    """Real ingestion edge: a directory of files read via binaryFile
    lands in the (id, payload, meta) frame shape and flows through
    feature extraction unchanged — checksum must equal md5 of the
    actual file bytes."""
    import hashlib

    from local_stream_stack_spark.operators.multimodal import (
        extract_features,
        read_binary_dir,
    )

    payloads = {f"f{i}.img": bytes([i * 7 % 251]) * (50 + i) for i in range(4)}
    for name, data in payloads.items():
        (tmp_path / name).write_bytes(data)
    (tmp_path / "skip.txt").write_text("not media")

    frame = read_binary_dir(
        spark, str(tmp_path), modality="image", glob="*.img"
    )
    rows = frame.collect()
    assert len(rows) == 4
    assert all(r.meta["modality"] == "image" for r in rows)
    by_path = {r.meta["path"].rsplit("/", 1)[-1]: r for r in rows}
    assert set(by_path) == set(payloads)
    assert all(
        int(r.meta["length"]) == len(payloads[n]) for n, r in by_path.items()
    )

    feats = {
        r.id: r for r in extract_features(frame).collect()
    }
    assert len(feats) == 4
    for name, r in by_path.items():
        f = feats[r.id]
        assert f.n_bytes == len(payloads[name])
        assert f.checksum == hashlib.md5(payloads[name]).hexdigest()
        assert f.modality == "image"


def test_extract_features_decodes_real_gif(spark):
    """The multimodal dispatcher routes GIF magic to the real codec —
    width/height come from the decoded logical screen, not the stub's
    byte-hash fake."""
    from local_stream_stack_spark.operators.gif import encode_gif
    from local_stream_stack_spark.operators.multimodal import (
        extract_features,
    )

    pal = bytes(6)
    payload = encode_gif(31, 17, [(0, 0, 2, 2, b"\x00\x01\x01\x00")], pal)
    df = spark.createDataFrame(
        [(1, payload, {"modality": "image"})],
        "id long, payload binary, meta map<string,string>",
    )
    row = extract_features(df).collect()[0]
    assert (row.width, row.height) == (31, 17)


def test_decoded_stats_query_rows_follow_the_schema(spark, sf_dir):
    """The shared codec-query skeleton fills doc_id, picks the other
    schema columns by name from each yielded dict (extra keys are
    ignored), expands a doc into several rows, and sorts by
    ``order``."""
    from local_stream_stack_spark.queries.llm import decoded_stats_query

    def per_doc(png, did):
        for k in range(did % 3):
            yield {"k": k, "twice": 2 * did, "ignored": png.__name__}

    df = decoded_stats_query(
        spark, sf_dir, "png", "doc_id bigint, k int, twice bigint",
        per_doc, fan_out=True, order=("doc_id", "k"),
    )
    assert df.columns == ["doc_id", "k", "twice"]
    ids = sorted(
        r.doc_id for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id").collect()
    )
    want = [(d, k, 2 * d) for d in ids for k in range(d % 3)]
    assert [tuple(r) for r in df.collect()] == want


def test_decoded_stats_query_missing_field_fails_the_task(spark, sf_dir):
    """A decoder dict without a schema column fails loudly instead of
    turning into a null (the eager pin runs the decode)."""
    from local_stream_stack_spark.queries.llm import decoded_stats_query

    def per_doc(png, did):
        yield {"width": 1}

    with pytest.raises(Exception, match="KeyError"):
        decoded_stats_query(
            spark, sf_dir, "png", "doc_id bigint, width int, height int",
            per_doc, fan_out=False,
        ).collect()
