"""Behavioral coverage for the two rows-only surfaces: multimodal
binary-column plumbing (operators.multimodal — the codec is stubbed,
the Spark-side contract is the thing under test) and Structured
Streaming jobs (streaming.jobs), which are checked for equivalence
against their batch twins over the same bounded input."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from shopify_db_spark.operators import multimodal as MM
from shopify_db_spark.sources.store import CommerceStore
from shopify_db_spark.streaming import jobs as SJ
from shopify_db_spark.testing import compare_frames
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (1, "image", b"\x00\x01\x02PNGDATA", ("png", 64, 48, None, None)),
        (2, "audio", b"RIFFWAVDATA" * 3, ("wav", None, None, 16000, 1500)),
        (3, "video", b"\x00\x00ftypmp4video", ("mp4", 320, 240, 44100, 2500)),
        (4, "video", b"tiny", ("mp4", 8, 8, 44100, 0)),
    ]
    return spark.createDataFrame(rows, MM.MEDIA_SCHEMA)


def test_extract_features_contract(spark, media):
    out = MM.extract_features(media)
    assert [f.name for f in out.schema.fields] == [
        "media_id", "kind", "n_bytes", "features",
    ]
    rows = {r["media_id"]: r for r in out.collect()}
    assert set(rows) == {1, 2, 3, 4}
    # deterministic fake decoder: same bytes → same features, right dim
    expected = MM.fake_decode(b"\x00\x01\x02PNGDATA", "image")
    assert rows[1]["features"] == pytest.approx(expected)
    assert len(rows[1]["features"]) == MM.FEATURE_DIM
    assert rows[2]["n_bytes"] == len(b"RIFFWAVDATA" * 3)


def test_decode_media_dispatch():
    """Image/video (and non-WAV audio) stay injection-only stubs;
    WAV audio decodes through the default-registered stdlib codec."""
    with pytest.raises(NotImplementedError):
        MM.decode_media(b"x", "image")
    with pytest.raises(NotImplementedError):
        MM.decode_media(b"not a riff blob", "audio")
    feats = MM.decode_media(MM.synthesize_wav("hello wav"), "audio")
    assert len(feats) == MM.FEATURE_DIM
    assert all(0.0 <= f <= 1.0 for f in feats)


def test_wav_codec_roundtrip_exact():
    """The real decode path: stdlib wave writes a genuine RIFF blob,
    wav_pcm_decode parses the header and unpacks the exact samples;
    band energies match a direct recomputation; malformed PCM shape
    is rejected at the header, not misread."""
    import io
    import struct
    import wave as wavemod

    text = "The 44-byte canonical header, for real."
    blob = MM.synthesize_wav(text)
    assert blob[:4] == b"RIFF" and blob[8:12] == b"WAVE"

    rate, samples = MM.wav_pcm_decode(blob)
    expected = [(b - 128) * 256 for b in text.encode("utf-8")]
    assert rate == MM.WAV_SAMPLE_RATE and samples == expected

    _, n, energies = MM.wav_band_energies(blob)
    assert n == len(expected)
    manual = [0] * MM.FEATURE_DIM
    for k, s in enumerate(expected):
        manual[k * MM.FEATURE_DIM // n] += abs(s)
    assert energies == manual
    assert sum(energies) == sum(abs(s) for s in expected)

    # stereo blob: header validation must refuse, not silently decode
    buf = io.BytesIO()
    with wavemod.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(struct.pack("<4h", 1, 2, 3, 4))
    with pytest.raises(ValueError):
        MM.wav_pcm_decode(buf.getvalue())


def test_wav_media_plumbing(spark):
    """synthesize_wav_media emits the MEDIA_SCHEMA shape with real
    header metadata; wav_energy_features decodes every blob through
    the Arrow boundary."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    media = MM.synthesize_wav_media(docs)
    assert [f.name for f in media.schema.fields] == [
        "media_id", "kind", "content", "meta"
    ]
    n_audio = docs.filter(F.col("doc_id") % 3 == 1).count()
    rows = MM.wav_energy_features(media).collect()
    assert len(rows) == n_audio
    assert all(r.sample_rate == MM.WAV_SAMPLE_RATE for r in rows)
    assert all(len(r.energies) == MM.FEATURE_DIM for r in rows)
    assert all(r.n_samples > 0 for r in rows)


def test_frame_sample_plan(spark, media):
    out = MM.frame_sample_plan(media, every_ms=1000).collect()
    by_id: dict[int, list[int]] = {}
    for r in out:
        by_id.setdefault(r["media_id"], []).append(r["frame_ts_ms"])
    # only video rows fan out; 2500ms at 1Hz → ts 0,1000,2000
    assert set(by_id) == {3, 4}
    assert sorted(by_id[3]) == [0, 1000, 2000]
    assert by_id[4] == [0]  # zero-duration still yields the head frame


def test_windowed_counts_match_batch(spark):
    """The streaming tumbling-window agg over the bounded events
    parquet must equal the same aggregation computed in batch."""
    streamed = SJ.run_bounded(
        SJ.windowed_event_counts(SJ.stream_events(spark, SF_SMOKE))
    )
    # the memory sink's temp view is dropped once the result is out
    assert not [
        t.name for t in spark.catalog.listTables() if t.name.startswith("stream_out_")
    ]
    # ts reads as TIMESTAMP_NTZ (micros parquet, no tz); batch
    # F.window accepts NTZ directly — no watermark in the batch twin
    batch_events = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    batch = (
        batch_events.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,4)")).alias("total_value_d"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            F.round(F.col("total_value_d"), 2).cast("double").alias("total_value"),
        )
    )
    problems = compare_frames(streamed.toPandas(), batch.toPandas())
    assert not problems, "; ".join(problems)


def test_sessionized_events_bounded(spark):
    """Sessions per user must be non-overlapping, gap-separated, and
    conserve the total event count."""
    sessions = SJ.run_bounded(
        SJ.sessionized_events(SJ.stream_events(spark, SF_SMOKE))
    ).collect()
    n_total = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet").count()
    )
    assert sum(r["n_events"] for r in sessions) == n_total
    by_user: dict[int, list] = {}
    for r in sessions:
        by_user.setdefault(r["user_id"], []).append(r)
    for user_sessions in by_user.values():
        user_sessions.sort(key=lambda r: r["session_start"])
        for a, b in zip(user_sessions, user_sessions[1:]):
            gap_s = (b["session_start"] - a["session_end"]).total_seconds()
            assert gap_s >= 0, "overlapping sessions for one user"


def test_incremental_order_ingest_matches_batch(spark, tmp_path):
    """Streaming foreachBatch ingest over a JSON drop directory must
    land the same three tables as the batch ingest path."""
    from shopify_db_spark.ingest_jobs import ingest_from_json_dir
    from tests.test_ingest import fixtures_to_raw_json

    json_dir = tmp_path / "drops"
    json_dir.mkdir()
    fixtures_to_raw_json(json_dir)
    # keep only orders.jsonl — the streaming job watches order drops
    for extra in json_dir.glob("*.jsonl"):
        if extra.name != "orders.jsonl":
            extra.unlink()

    stream_store = CommerceStore(spark, str(tmp_path / "stream_store"))
    q = SJ.incremental_order_ingest(
        spark, stream_store, str(json_dir), str(tmp_path / "ckpt")
    )
    q.awaitTermination()

    batch_store = CommerceStore(spark, str(tmp_path / "batch_store"))
    ingest_from_json_dir(spark, batch_store, str(json_dir))

    for table in ("orders", "line_item_products", "shipping"):
        problems = compare_frames(
            stream_store.read(table).toPandas(),
            batch_store.read(table).toPandas(),
        )
        assert not problems, f"{table}: " + "; ".join(problems)


def test_stateful_user_activity_timeout_emission(spark, tmp_path):
    """applyInPandasWithState: state folds across batches and the
    idle timeout emits the accumulated summary. Two single-file
    micro-batches: users from drop 1 time out during batch 2."""
    import time as _time

    drop_dir = tmp_path / "events"
    drop_dir.mkdir()
    batch1 = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", 7, "view", 1.0),
            (2, "2024-01-01 10:05:00", 7, "buy", 2.5),
            (3, "2024-01-01 11:00:00", 8, "view", 4.0),
        ],
        "event_id long, ts string, user_id long, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    batch2 = spark.createDataFrame(
        [(4, "2024-01-02 09:00:00", 9, "view", 8.0)],
        "event_id long, ts string, user_id long, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    batch1.coalesce(1).write.parquet(str(drop_dir / "d1"))

    stream = (
        spark.readStream.schema(batch1.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(drop_dir) + "/*")
    )
    out = SJ.stateful_user_activity(stream, idle_timeout_ms=1)
    name = "stateful_out_test"
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        deadline = _time.time() + 60
        while _time.time() < deadline:
            if spark.sql(f"SELECT * FROM {name}").count() >= 2:
                break
            if not (drop_dir / "d2").exists() and _time.time() > deadline - 55:
                batch2.coalesce(1).write.parquet(str(drop_dir / "d2"))
            _time.sleep(1)
        rows = {r["user_id"]: r for r in spark.sql(f"SELECT * FROM {name}").collect()}
    finally:
        q.stop()
    assert set(rows) >= {7, 8}
    assert rows[7]["n_events"] == 2
    assert rows[7]["total_value"] == pytest.approx(3.5)
    assert str(rows[7]["first_ts"]) == "2024-01-01 10:00:00"
    assert str(rows[7]["last_ts"]) == "2024-01-01 10:05:00"
    assert rows[8]["n_events"] == 1


def test_write_batch_files_tolerates_empty_batch(spark):
    """A batch_no value with zero rows must still yield a replayable
    (empty, full-schema) file — partitionBy writes no directory for
    an absent partition value, which used to raise."""
    import os
    import shutil

    from shopify_db_spark.plans.streamops import _write_batch_files

    df = spark.createDataFrame([(0, "a"), (2, "b")], "batch_no int, v string")
    stream_dir = _write_batch_files(df, 3)
    try:
        assert sorted(os.listdir(stream_dir)) == [
            "batch-0.parquet",
            "batch-1.parquet",
            "batch-2.parquet",
        ]
        empty = spark.read.parquet(os.path.join(stream_dir, "batch-1.parquet"))
        assert empty.count() == 0
        assert empty.columns == ["batch_no", "v"]
    finally:
        shutil.rmtree(os.path.dirname(stream_dir), ignore_errors=True)


def test_pil_decoder_integration(spark):
    """The swap-one-function codec contract with a REAL library:
    PNGs generated and decoded by PIL flow through the same
    mapInPandas plumbing as fake_decode. Skips when PIL is absent
    (this container ships without image codecs)."""
    PIL = pytest.importorskip("PIL")
    import io

    from PIL import Image

    from shopify_db_spark.operators import multimodal as mm

    def png_bytes(gray: int) -> bytes:
        buf = io.BytesIO()
        Image.new("L", (32, 32), color=gray).save(buf, format="PNG")
        return buf.getvalue()

    rows = [
        (1, "image", png_bytes(0), None),
        (2, "image", png_bytes(255), None),
        (3, "audio", b"\x00\x01\x02", None),  # non-image falls back
    ]
    media = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    feats = {
        r["media_id"]: r["features"]
        for r in mm.extract_features(media, decoder=mm.pil_image_decoder).collect()
    }
    assert feats[1] == pytest.approx([0.0] * mm.FEATURE_DIM)
    assert feats[2] == pytest.approx([1.0] * mm.FEATURE_DIM)
    assert feats[3] == pytest.approx(mm.fake_decode(b"\x00\x01\x02", "audio"))


def test_pil_decoder_absent_degrades_like_stub():
    """Without PIL the adapter raises NotImplementedError for image
    blobs (the decode_media contract) and still fake-decodes
    non-image kinds."""
    from shopify_db_spark.operators import multimodal as mm

    try:
        import PIL  # noqa: F401
        pytest.skip("PIL installed; absence path not exercisable")
    except ImportError:
        pass
    with pytest.raises(NotImplementedError):
        mm.pil_image_decoder(b"\x89PNG", "image")
    assert mm.pil_image_decoder(b"xyz", "audio") == mm.fake_decode(b"xyz", "audio")


def test_hopping_counts_match_batch(spark):
    """Streaming hopping windows (60 min / 30 min slide) must equal
    the batch sliding-window aggregation — and carry 2x the window
    assignments of the tumbling twin (each event in exactly two
    windows at this window:slide ratio)."""
    streamed = SJ.run_bounded(
        SJ.windowed_event_counts(
            SJ.stream_events(spark, SF_SMOKE), slide="30 minutes"
        )
    )
    batch_events = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    batch = (
        batch_events.groupBy(
            F.window("ts", "1 hour", "30 minutes"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,4)")).alias("total_value_d"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            F.round(F.col("total_value_d"), 2).cast("double").alias("total_value"),
        )
    )
    problems = compare_frames(streamed.toPandas(), batch.toPandas())
    assert not problems, "; ".join(problems)
    n_total = batch_events.count()
    assigned = sum(r["n_events"] for r in streamed.collect())
    assert assigned == 2 * n_total


def test_media_fingerprint_and_hash64_pairs(spark):
    """q118's two composed pieces at unit scale: the Arrow codec
    boundary emits one packed int64 per blob (deterministic — equal
    bytes, equal fingerprint) and ``hash64_pairs`` finds the
    hamming-0 pair for identical blobs via the pigeonhole block
    join. A near-identical blob (one 4-gram changed) lands within
    the hamming budget; an unrelated blob does not pair at all."""
    from shopify_db_spark.operators.dedup import hash64_pairs

    base = "the quick brown fox jumps over the lazy dog " * 4
    near = base.replace("lazy", "hazy")
    rows = [
        (1, "image", base.encode(), None),
        (2, "image", base.encode(), None),
        (3, "image", near.encode(), None),
        (4, "image", ("completely different content " * 6).encode(), None),
    ]
    media = spark.createDataFrame(rows, MM.MEDIA_SCHEMA)
    sig = MM.media_fingerprint(media)
    by_id = {r["media_id"]: r["phash"] for r in sig.collect()}
    assert by_id[1] == by_id[2] == MM.byte_ngram_phash(base.encode(), "image")
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in hash64_pairs(
            sig, max_hamming=16, id_col="media_id", hash_col="phash"
        ).collect()
    }
    assert pairs[(1, 2)] == 0
    assert 0 < pairs[(1, 3)] <= 16
    assert not any(4 in p for p in pairs)


def test_pil_ahash_integration():
    """Real-codec perceptual hash: solid images hash to all-ones
    (every pixel >= mean), a half-split image differs from solid in
    exactly half its bits — the locality property the q118 pair
    join needs. Skips when PIL is absent."""
    pytest.importorskip("PIL")
    import io

    from PIL import Image

    from shopify_db_spark.operators import multimodal as mm

    def png(pixels) -> bytes:
        img = Image.new("L", (8, 8))
        img.putdata(pixels)
        buf = io.BytesIO()
        img.save(buf, format="PNG")
        return buf.getvalue()

    solid = png([200] * 64)
    split = png([255] * 32 + [0] * 32)
    h_solid = mm.pil_ahash(solid, "image")
    h_split = mm.pil_ahash(split, "image")
    assert h_solid == -1  # all 64 bits set, signed wrap
    assert bin((h_solid ^ h_split) & ((1 << 64) - 1)).count("1") == 32
    # non-image kinds fall back to the deterministic stand-in
    assert mm.pil_ahash(b"xyz", "audio") == mm.byte_ngram_phash(b"xyz", "audio")


def test_hash64_pairs_exact_dups_survive_hot_bucket_cap(spark):
    """Round-9 hardening: with a bucket cap, an exact duplicate's
    every block bucket is hot by definition — exactly the rows the
    cap drops — so identical fingerprints short-circuit through the
    equality tier and the hamming-0 pair must ALWAYS be emitted,
    even when the cap is smaller than the duplicate group."""
    from shopify_db_spark.operators.dedup import hash64_pairs

    # ten identical fingerprints + one near miss: every bucket of
    # the identical group has 10-11 members, over the cap of 2
    rows = [(i, 0x0123456789ABCDEF) for i in range(10)]
    rows.append((10, 0x0123456789ABCDEE))  # hamming 1 from the group
    sig = spark.createDataFrame(rows, "doc_id long, simhash long")
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in hash64_pairs(sig, max_hamming=4, max_bucket=2).collect()
    }
    # all 45 identical pairs present at hamming 0 despite the cap
    assert sum(1 for h in pairs.values() if h == 0) == 45
    # the near-dup is a CAPPED candidate (its buckets are the hot
    # group's buckets) -> correctly absent under the cap's trade
    assert not any(10 in p for p in pairs)
    # without the cap the near-dup pairs appear (full recall)
    full = hash64_pairs(sig, max_hamming=4).collect()
    assert sum(1 for r in full if r["hamming"] == 1) == 10


def test_q164_oracle_guard_trips_on_bad_fixture():
    """ADVICE r13: q164's oracle models samples from CHARS
    (length/ascii) while the Spark decode reads utf-8 BYTES, and an
    empty text yields no oracle row but a zero-energy Spark row. The
    oracle carries an explicit guard so a fixture refresh that breaks
    the non-empty-ASCII assumption fails LOUDLY at the assumption,
    not as a hash mismatch. DuckDB-only — no Spark session."""
    import duckdb
    import pytest

    from shopify_db_spark.plans.mediaops import _Q164_ORACLE

    def run(values: str):
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS "
            f"SELECT * FROM (VALUES {values}) t(doc_id, text)"
        )
        return con.execute(_Q164_ORACLE).df()

    # healthy: non-empty ASCII (doc_id % 3 == 1 selects the audio kind)
    ok = run("(1, 'abc'), (4, 'xy')")
    assert len(ok) == 2

    # empty text: Spark would emit a zero-energy row, oracle none
    with pytest.raises(Exception, match="non-empty ASCII"):
        run("(1, ''), (4, 'abc')")

    # non-ASCII: char count != byte count, sample streams diverge
    with pytest.raises(Exception, match="non-empty ASCII"):
        run("(1, 'café'), (4, 'abc')")


def test_png_codec_roundtrip_exact():
    """The second real codec (VERDICT r13 item 4): synthesis writes a
    genuine 8-bit grayscale PNG (CRC-32 chunks, zlib IDAT, scanline
    filters cycling ALL FIVE standard types); decode walks chunks
    CRC-checked, inflates, and reverses the filters. Pixel k must
    equal byte k of the text (space-padded raster) — bit-exact."""
    from shopify_db_spark.operators import multimodal as MM

    for text in ["hello", "q" * 200, "", "The quick brown fox. " * 40]:
        blob = MM.synthesize_png(text)
        assert blob[:8] == b"\x89PNG\r\n\x1a\n"
        w, h, px = MM.png_gray_decode(blob)
        data = text.encode("utf-8")
        exp_h = max(1, -(-len(data) // MM.PNG_WIDTH))
        padded = data + bytes([MM.PNG_PAD_BYTE]) * (MM.PNG_WIDTH * exp_h - len(data))
        assert (w, h) == (MM.PNG_WIDTH, exp_h)
        assert px == padded

    # a ≥5-row raster exercises every filter type (row r uses r % 5)
    tall = MM.synthesize_png("z" * (MM.PNG_WIDTH * 7))
    _, h7, _ = MM.png_gray_decode(tall)
    assert h7 == 7


def test_png_codec_rejects_corruption():
    """CRC validation and header checks are load-bearing: a flipped
    byte in a chunk body or CRC must fail the decode loudly."""
    import pytest

    from shopify_db_spark.operators import multimodal as MM

    blob = bytearray(MM.synthesize_png("corruption probe " * 10))
    blob[-5] ^= 0xFF  # inside IEND's CRC
    with pytest.raises(ValueError, match="CRC"):
        MM.png_gray_decode(bytes(blob))

    blob2 = bytearray(MM.synthesize_png("x"))
    blob2[0] ^= 0x01
    with pytest.raises(ValueError, match="signature"):
        MM.png_gray_decode(bytes(blob2))


def test_png_band_sums_match_direct_recompute():
    """Band b sums pixel k over k in [bN/D, (b+1)N/D) — the q166
    reduction, recomputed directly from the padded byte stream."""
    from shopify_db_spark.operators import multimodal as MM

    text = "Band sums are integer-exact! " * 13
    w, h, sums = MM.png_band_sums(MM.synthesize_png(text))
    data = text.encode("utf-8")
    padded = data + bytes([MM.PNG_PAD_BYTE]) * (w * h - len(data))
    n = w * h
    exp = [0] * MM.FEATURE_DIM
    for k, v in enumerate(padded):
        exp[k * MM.FEATURE_DIM // n] += v
    assert sums == exp


def test_decode_media_dispatches_png():
    """decode_media now handles image/PNG natively (two real codecs:
    WAV + PNG); video remains the injection-only boundary."""
    import pytest

    from shopify_db_spark.operators import multimodal as MM

    blob = MM.synthesize_png("dispatch me")
    feats = MM.decode_media(blob, "image")
    assert len(feats) == MM.FEATURE_DIM
    assert all(0.0 <= f <= 1.0 for f in feats)
    with pytest.raises(NotImplementedError):
        MM.decode_media(b"\x00\x01\x02", "video")
    # a non-PNG image blob still requires an injected decoder
    with pytest.raises(NotImplementedError):
        MM.decode_media(b"JFIF-ish", "image")


def test_png_media_plumbing(spark):
    """Spark-side contract for the PNG path: image-kind docs only,
    real raster metadata, and band features that match the
    pure-Python decode per media_id."""
    from shopify_db_spark.operators import multimodal as MM

    docs = spark.createDataFrame(
        [(0, "alpha beta gamma " * 9), (1, "skipped-audio"), (3, "short")],
        "doc_id long, text string",
    )
    media = MM.synthesize_png_media(docs)
    rows = {r["media_id"]: r for r in media.collect()}
    assert set(rows) == {0, 3}  # doc_id % 3 == 0 only
    assert rows[0]["meta"]["format"] == "image/png"
    assert rows[0]["meta"]["width"] == MM.PNG_WIDTH

    feats = {r["media_id"]: r for r in MM.png_band_features(media).collect()}
    for mid, text in [(0, "alpha beta gamma " * 9), (3, "short")]:
        exp_w, exp_h, exp_sums = MM.png_band_sums(MM.synthesize_png(text))
        assert feats[mid]["width"] == exp_w
        assert feats[mid]["height"] == exp_h
        assert list(feats[mid]["bands"]) == exp_sums
