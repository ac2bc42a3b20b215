"""Structured Streaming (stateful polygon fold, windowed counts) and
multimodal decode/feature operators."""

import math
import os
import tempfile

import numpy as np
import pytest

from pyspark.sql import functions as F

from geographiclib_go_spark.operators import multimodal as mm
from geographiclib_go_spark.sources import images as im
from geographiclib_go_spark.streaming import polygon_stream as ps

ANTARCTICA = [
    (-63.1, -58), (-72.9, -74), (-71.9, -102), (-74.9, -102),
    (-74.3, -131), (-77.5, -163), (-77.4, 163), (-71.7, 172),
    (-65.9, 140), (-65.7, 113), (-66.6, 88), (-66.9, 59), (-69.8, 25),
    (-70.0, -4), (-71.0, -14), (-77.3, -33), (-77.9, -46), (-74.7, -61),
]


def test_running_polygon_area_stream(spark):
    """Feed Antarctica vertices through a file stream in two batches;
    the final running area must match the batch golden
    (readme_test.go:94-111)."""
    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        os.makedirs(src)
        schema = "poly_id long, seq long, lat double, lon double"
        rows1 = [(1, i, float(la), float(lo))
                 for i, (la, lo) in enumerate(ANTARCTICA[:9])]
        rows2 = [(1, i + 9, float(la), float(lo))
                 for i, (la, lo) in enumerate(ANTARCTICA[9:])]
        # one file per batch: the fold contract is in-seq arrival
        spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(
            os.path.join(src, "b1"))

        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", "1")
                  .parquet(src + "/*"))
        out = ps.running_polygon_area(stream)
        q = (out.writeStream.format("memory").queryName("running_poly")
             .outputMode("update").start())
        try:
            q.processAllAvailable()
            spark.createDataFrame(rows2, schema).coalesce(1).write.parquet(
                os.path.join(src, "b2"))
            q.processAllAvailable()
            res = spark.sql(
                "select * from running_poly order by num desc limit 1"
            ).collect()[0]
            assert res.num == 18
            assert res.perimeter == pytest.approx(16831067.893, abs=1e-3)
            assert res.area == pytest.approx(13662703680020.1, abs=1.0)
        finally:
            q.stop()


def test_windowed_event_counts_stream(spark, sf_dir):
    # the batch DF through the stream's plan builder (semantics check;
    # the watermark is a no-op on a batch plan): every event lands in
    # exactly one (window, event_type) row
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    agg = ps.windowed_event_counts(ev)
    total = agg.agg(F.sum("n_events")).collect()[0][0]
    assert total == ev.count()


def test_extract_features(spark):
    imgs = im.generate_images(spark, 60, skew_pct=0)
    feats = mm.extract_features(imgs).collect()
    assert len(feats) == 60
    assert all(r.decode_ok for r in feats)
    # phash recomputed from decoded pixels must match the source phash
    src = {r.image_id: r.phash for r in imgs.collect()}
    for r in feats:
        assert r.phash_check == src[r.image_id], r.image_id
    assert all(0 <= r.mean_r <= 255 for r in feats)


def test_resize_images(spark):
    imgs = im.generate_images(spark, 20, skew_pct=0)
    small = mm.resize_images(imgs, 8, 8).collect()
    assert len(small) == 20
    for r in small:
        pix = im.ppm_decode(bytes(r.bytes))
        assert pix.shape == (8, 8, 3)


def test_audio_video_codec_dispatch():
    """wav/rawv decode for real; compressed codecs raise behind the
    same dispatch (no decoder libs in this container)."""
    with pytest.raises(NotImplementedError):
        mm.decode_audio(b"xx", "mp3")
    with pytest.raises(NotImplementedError):
        mm.decode_video(b"xx", "mp4")
    with pytest.raises(ValueError):
        mm.decode_audio(b"not-a-riff-stream-at-all", "wav")
    with pytest.raises(ValueError):
        mm.decode_video(b"not-rawv", "rawv")


def test_wav_roundtrip_and_features(spark):
    """WAV bytes -> decode -> DSP features, against numpy oracles; a
    planted pure sine must surface as the dominant frequency."""
    from geographiclib_go_spark.sources import media as md
    s = md.audio_samples_for(7)
    assert np.array_equal(md.wav_decode(md.wav_encode(s, 8000))[0], s)

    rate, n, freq = 8000, 4000, 440.0
    t = np.arange(n) / rate
    sine = np.round(20000 * np.sin(2 * np.pi * freq * t)).astype(np.int16)
    rows = [(0, bytearray(md.wav_encode(s, rate)), "wav"),
            (1, bytearray(md.wav_encode(sine, rate)), "wav"),
            (2, bytearray(b"garbage"), "mp3")]
    df = spark.createDataFrame(rows, "audio_id long, bytes binary, fmt string")
    got = {r.audio_id: r for r in mm.extract_audio_features(df).collect()}
    x = s.astype(np.int64)
    assert got[0].decode_ok and got[0].n_samples == n
    assert got[0].rms == pytest.approx(
        float(np.sqrt((x * x).sum() / n)), rel=1e-12)
    assert got[0].peak == int(np.abs(x).max())
    nonneg = x >= 0
    assert got[0].zcr == int((nonneg[1:] != nonneg[:-1]).sum())
    assert got[1].dom_freq_hz == pytest.approx(freq, abs=rate / n)
    assert got[2].decode_ok is False and got[2].rms is None


def test_rawv_frame_sampling_and_motion(spark):
    from geographiclib_go_spark.sources import media as md
    vids = md.generate_videos(spark, 6)
    frames = mm.sample_video_frames(vids, every_n=2).collect()
    # 8 frames, every 2nd -> 4 rows per clip, content bit-exact
    assert len(frames) == 6 * 4
    for r in frames:
        want = md.video_frames_for(r.video_id)[r.frame_idx]
        assert np.array_equal(im.ppm_decode(bytes(r.bytes)), want)
    got = {r.video_id: r for r in mm.video_motion_energy(vids).collect()}
    for vid in range(6):
        f = md.video_frames_for(vid).astype(np.int64)
        d = np.abs(np.diff(f, axis=0))
        assert got[vid].motion == pytest.approx(d.sum() / d.size, rel=0)
        assert got[vid].n_frames == 8


def test_streaming_tile_counts(spark, tmp_path):
    """Streaming tile assignment + windowed rollup matches the batch
    tile counts for the same input; a late row beyond the watermark
    is dropped."""
    import pandas as pd
    from geographiclib_go_spark.operators import tiling

    src = tmp_path / "stream_in"
    src.mkdir()
    base = pd.Timestamp("2026-01-01 10:00:00")
    pdf = pd.DataFrame({
        "ts": [base + pd.Timedelta(minutes=m) for m in
               [0, 5, 10, 20, 30, 40, 50, 55]],
        "image_id": [f"img_{i}" for i in range(8)],
        "phash": list(range(8)),
        "lat": [10.0, 10.1, -20.0, 48.9, 48.85, -33.9, 10.05, 35.7],
        "lon": [20.0, 20.1, 30.0, 2.35, 2.3, 151.2, 20.02, 139.7],
    })
    spark.createDataFrame(pdf).coalesce(1).write.parquet(
        str(src / "batch0"))

    schema = ("ts timestamp, image_id string, phash long, "
              "lat double, lon double")
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(str(src / "*")))
    out = ps.streaming_tile_counts(stream, tile_res=6,
                                   watermark="10 minutes",
                                   window="1 hour")
    q = (out.writeStream.format("memory").queryName("tile_stream")
         .outputMode("update").start())
    try:
        q.processAllAvailable()
        got = spark.sql(
            "SELECT tile_id, n_images FROM tile_stream").toPandas()
    finally:
        q.stop()

    batch = (tiling.assign_tiles(spark.createDataFrame(pdf), 6)
             .groupBy("tile_id").count().toPandas())
    want = dict(zip(batch.tile_id, batch["count"]))
    got_latest = got.groupby("tile_id").n_images.max().to_dict()
    assert got_latest == want


def test_streaming_exact_dedup_matches_batch(spark, tmp_path):
    """Streaming first-occurrence dedup (bounded watermark state)
    keeps exactly the batch exact_dedup survivors when arrival order
    is id order (min-id == first-arrival)."""
    import pandas as pd
    from geographiclib_go_spark.operators import dedup as ded

    src = tmp_path / "docs_in"
    src.mkdir()
    base = pd.Timestamp("2026-01-01 10:00:00")
    texts = ["alpha beta", "gamma delta", "alpha beta", "epsilon",
             "gamma delta", "zeta eta theta"]
    pdf = pd.DataFrame({
        "ts": [base + pd.Timedelta(minutes=m) for m in range(6)],
        "doc_id": list(range(6)),
        "text": texts,
    })
    # two micro-batches with a duplicate crossing the batch boundary
    spark.createDataFrame(pdf.iloc[:3]).coalesce(1).write.parquet(
        str(src / "b0"))
    spark.createDataFrame(pdf.iloc[3:]).coalesce(1).write.parquet(
        str(src / "b1"))

    stream = (spark.readStream
              .schema("ts timestamp, doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(str(src / "*")))
    out = ps.streaming_exact_dedup(stream, watermark="30 minutes")
    q = (out.writeStream.format("memory").queryName("dedup_stream")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT doc_id FROM dedup_stream").toPandas()
    finally:
        q.stop()

    want = sorted(
        r.doc_id for r in ded.exact_dedup(
            spark.createDataFrame(pdf[["doc_id", "text"]])).collect())
    assert sorted(got.doc_id.tolist()) == want == [0, 1, 3, 5]


def test_streaming_signatures_match_batch(spark, tmp_path):
    """The sketch kernels are stateless per Arrow batch, so streaming
    signatures are bit-identical to the batch path."""
    import pandas as pd
    from geographiclib_go_spark.operators import dedup as ded

    src = tmp_path / "sig_in"
    src.mkdir()
    pdf = pd.DataFrame({
        "doc_id": list(range(8)),
        "text": [f"doc number {i} spark shuffle join window" * (i + 1)
                 for i in range(8)],
    })
    spark.createDataFrame(pdf).coalesce(1).write.parquet(str(src / "b0"))
    stream = (spark.readStream.schema("doc_id long, text string")
              .parquet(str(src / "*")))
    q = (ps.streaming_doc_signatures(stream)
         .writeStream.format("memory").queryName("sig_stream")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        got = spark.sql(
            "SELECT doc_id, minhash_sig, simhash FROM sig_stream") \
            .toPandas().set_index("doc_id").sort_index()
    finally:
        q.stop()

    batch_df = spark.createDataFrame(pdf)
    msig = ded.minhash_signature_udf(64, 5)
    ssig = ded.simhash_udf()
    want = (batch_df.select("doc_id", msig("text").alias("m"),
                            ssig("text").alias("s"))
            .toPandas().set_index("doc_id").sort_index())
    for i in range(8):
        assert list(got.minhash_sig[i]) == list(want.m[i])
        assert got.simhash[i] == want.s[i]


def test_streaming_image_invariants_matches_batch(spark, tmp_path):
    """The decode-invariants kernel under readStream must produce
    EXACTLY the batch result (stateless mapInPandas): same pix_sum /
    sse / psnr_ok / caption per image."""
    from geographiclib_go_spark.sources import images as im

    src = tmp_path / "img_in"
    src.mkdir()
    batch = im.generate_images(spark, 400)
    batch.coalesce(1).write.parquet(str(src / "b0"))
    stream = (spark.readStream.schema(im.IMAGES_SCHEMA)
              .parquet(str(src / "*")))
    q = (ps.streaming_image_invariants(stream)
         .writeStream.format("memory").queryName("img_inv_stream")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT * FROM img_inv_stream").toPandas() \
            .sort_values("image_id").reset_index(drop=True)
    finally:
        q.stop()

    want = im.decode_invariants(batch).toPandas() \
        .sort_values("image_id").reset_index(drop=True)
    assert len(got) == 400
    for col in ("image_id", "caption", "fmt", "pix_sum", "sse",
                "psnr_ok"):
        assert np.array_equal(got[col].to_numpy(),
                              want[col].to_numpy()), col


def test_streaming_ingest_dedup_matches_batch_classifier(spark, tmp_path):
    """streaming_ingest_dedup_events probing the SAME persisted corpus
    artifacts (md5 set + MinHash band table) must classify every
    batch doc exactly like queries.docs_incremental_dedup: docs with
    an 'exact' event -> exact_dup, else a 'near' event -> near_dup,
    else new."""
    from geographiclib_go_spark import queries as Q
    from geographiclib_go_spark.operators import dedup as ded
    from geographiclib_go_spark.operators import sampling as smp

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    lab = smp.assign_split(docs, "doc_id",
                           weights={"corpus": 0.8, "batch": 0.2},
                           salt="ingest:")
    corpus = lab.filter(F.col("split") == "corpus")
    batch = lab.filter(F.col("split") == "batch").select("doc_id", "text")

    # persisted-index analogs (in the query these are lineage snapshots)
    corpus_md5 = corpus.select(F.md5("text").alias("_h")).distinct()
    corpus_bands = ded.minhash_band_table(corpus, num_hashes=64, bands=8)
    corpus_texts = corpus.select("doc_id", "text")
    for df, name in ((corpus_md5, "md5"), (corpus_bands, "bands"),
                     (corpus_texts, "texts")):
        df.write.mode("overwrite").parquet(str(tmp_path / name))
    corpus_md5 = spark.read.parquet(str(tmp_path / "md5"))
    corpus_bands = spark.read.parquet(str(tmp_path / "bands"))
    corpus_texts = spark.read.parquet(str(tmp_path / "texts"))

    # feed the batch docs as two micro-batch files
    src = tmp_path / "arrivals"
    src.mkdir()
    pdf = batch.orderBy("doc_id").toPandas()
    half = len(pdf) // 2
    spark.createDataFrame(pdf.iloc[:half]).coalesce(1).write.parquet(
        str(src / "b0"))
    spark.createDataFrame(pdf.iloc[half:]).coalesce(1).write.parquet(
        str(src / "b1"))
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(str(src / "*")))

    out = ps.streaming_ingest_dedup_events(
        stream, corpus_md5, corpus_bands, corpus_texts,
        threshold=0.8, num_hashes=64, bands=8)
    q = (out.writeStream.format("memory").queryName("ingest_events")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        ev = spark.sql("SELECT * FROM ingest_events").toPandas()
    finally:
        q.stop()

    exact_ids = set(ev[ev.kind == "exact"].doc_id)
    near_ids = set(ev[ev.kind == "near"].doc_id) - exact_ids
    got = {int(d): ("exact_dup" if d in exact_ids
                    else "near_dup" if d in near_ids else "new")
           for d in pdf.doc_id}
    want = {r["doc_id"]: r["status"]
            for r in Q.docs_incremental_dedup(spark, sf).collect()}
    assert got == want
    assert "exact_dup" in got.values() or "near_dup" in got.values()


def test_streaming_image_dedup_matches_batch_classifier(spark, tmp_path):
    """streaming_image_dedup_events probing the SAME persisted phash
    chunk index must classify every arriving image exactly like the
    batch cross-Hamming check: an event with hamming 0 -> exact
    perceptual dup, else any event -> near dup, else new."""
    from geographiclib_go_spark.operators import dedup as ded

    n, split = 1200, 1000
    ids = np.arange(n, dtype=np.uint64)
    ph = im.phash_for_ids(ids)
    corpus_ph = np.unique(ph[:split])
    batch = [(f"img_{i:012d}", int(ph[i])) for i in range(split, n)]

    chunks = ded.hamming_chunk_table(
        spark.createDataFrame(
            [(int(p),) for p in corpus_ph], "phash long"),
        sig_col="phash", id_col="phash", max_hamming=4)
    chunks.write.mode("overwrite").parquet(str(tmp_path / "chunks"))
    corpus_chunks = spark.read.parquet(str(tmp_path / "chunks"))

    src = tmp_path / "arrivals"
    src.mkdir()
    half = len(batch) // 2
    spark.createDataFrame(batch[:half], "image_id string, phash long") \
        .coalesce(1).write.parquet(str(src / "b0"))
    spark.createDataFrame(batch[half:], "image_id string, phash long") \
        .coalesce(1).write.parquet(str(src / "b1"))
    stream = (spark.readStream.schema("image_id string, phash long")
              .option("maxFilesPerTrigger", 1).parquet(str(src / "*")))

    out = ps.streaming_image_dedup_events(stream, corpus_chunks,
                                          max_hamming=4)
    q = (out.writeStream.format("memory").queryName("img_events")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        ev = spark.sql("SELECT * FROM img_events").toPandas()
    finally:
        q.stop()

    # batch classifier ground truth: numpy cross popcount
    # (numpy<2 has no bitwise_count: fold the xor into bytes and use
    # unpackbits)
    def popcount64(x):
        return np.unpackbits(
            x.astype(np.uint64).view(np.uint8).reshape(-1, 8),
            axis=1).sum(axis=1)

    want, want_events = {}, set()
    for iid, p in batch:
        ham = popcount64(np.bitwise_xor(np.int64(p), corpus_ph))
        hits = corpus_ph[ham <= 4]
        want[iid] = ("exact" if (ham == 0).any()
                     else "near" if hits.size else "new")
        for m, h in zip(hits, ham[ham <= 4]):
            want_events.add((iid, int(m), int(h)))

    got_events = {(r.image_id, int(r.matched_phash), int(r.hamming))
                  for _, r in ev.iterrows()}
    assert got_events == want_events  # event SET identical (dups ok)
    exact_ids = set(ev[ev.hamming == 0].image_id)
    near_ids = set(ev.image_id) - exact_ids
    got = {iid: ("exact" if iid in exact_ids
                 else "near" if iid in near_ids else "new")
           for iid, _ in batch}
    assert got == want
    assert "exact" in got.values() and "near" in got.values()


def test_streaming_corridor_matches_batch_query(spark, tmp_path):
    """streaming_corridor_events over the same placements the batch
    corridor query reads must emit the identical (image_id, seg,
    dist_r) set — the stateless map-only gate cannot depend on
    micro-batch boundaries."""
    from geographiclib_go_spark import queries as Q

    want = {(r.image_id, int(r.seg), float(r.dist_r))
            for r in Q.route_corridor_images(spark, None).collect()}

    import pandas as pd

    n = Q._IMG_QUERY_N
    ids = np.arange(n, dtype=np.uint64)
    ph = im.phash_for_ids(ids)
    lat, lon = im.latlon_for_ids(ids, ph)
    pdf = pd.DataFrame({
        "image_id": [f"img_{int(i):012d}" for i in ids],
        "lat": np.asarray(lat, np.float64),
        "lon": np.asarray(lon, np.float64)})
    src = tmp_path / "arrivals"
    src.mkdir()
    half = n // 2
    schema = "image_id string, lat double, lon double"
    spark.createDataFrame(pdf.iloc[:half], schema) \
        .coalesce(1).write.parquet(str(src / "b0"))
    spark.createDataFrame(pdf.iloc[half:], schema) \
        .coalesce(1).write.parquet(str(src / "b1"))
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(src / "*")))

    out = ps.streaming_corridor_events(
        stream, Q._ROUTE_LATS, Q._ROUTE_LONS,
        Q._CORRIDOR_M, Q._CORRIDOR_RES)
    q = (out.writeStream.format("memory").queryName("corridor_events")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        ev = spark.sql("SELECT * FROM corridor_events").toPandas()
    finally:
        q.stop()
    got = {(r.image_id, int(r.seg), float(r.dist_r))
           for _, r in ev.iterrows()}
    assert got == want and len(got) == len(ev)  # set == batch, no dups


def test_streaming_image_embed_events_matches_numpy_replay(spark, tmp_path):
    """streaming_image_embed_events — image BYTES decoded + embedded
    in flight, probed against the persisted cluster-partitioned IVF
    snapshot — must emit EXACTLY the event set an independent numpy
    replay of the whole chain produces (embed, integer argmin
    assignment, nprobe expansion, threshold SSD), across multiple
    micro-batches."""
    from geographiclib_go_spark.operators import similarity as sim

    n, split, max_ssd, nprobe = 1400, 1000, 200_000, 3
    seeds = np.array([13, 157, 311, 487, 601, 733, 859, 977])
    X = im.pixel_embed_for_ids(
        np.arange(n, dtype=np.uint64)).astype(np.int64)
    cent = X[seeds]

    # persisted index: corpus images 0..999 embedded + assigned by
    # the SAME JVM expression the gate uses, written cluster-
    # partitioned (the batch side of write-once/probe-many)
    corpus = im.generate_images(spark, split)
    idx = (mm.pixel_embeddings(corpus)
           .withColumn("cluster", sim.int_ivf_clusters(cent)))
    idx.write.mode("overwrite").partitionBy("cluster") \
        .parquet(str(tmp_path / "ivf_idx"))
    index = spark.read.parquet(str(tmp_path / "ivf_idx"))

    # arrivals 1000..1399 in two micro-batches of raw image rows
    arrivals = im.generate_images(spark, n).filter(
        F.substring("image_id", 5, 12).cast("long") >= split)
    src = tmp_path / "arrivals"
    src.mkdir()
    arrivals.filter(F.substring("image_id", 5, 12).cast("long")
                    < 1200).coalesce(1).write.parquet(str(src / "b0"))
    arrivals.filter(F.substring("image_id", 5, 12).cast("long")
                    >= 1200).coalesce(1).write.parquet(str(src / "b1"))
    stream = (spark.readStream.schema(im.IMAGES_SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(str(src / "*")))

    out = ps.streaming_image_embed_events(stream, index, cent,
                                          max_ssd=max_ssd,
                                          nprobe=nprobe)
    q = (out.writeStream.format("memory").queryName("img_embed_ev")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        ev = spark.sql("SELECT * FROM img_embed_ev").toPandas()
    finally:
        q.stop()

    # independent numpy replay (object dtype = exact int, no wrap)
    def order(V, top):
        d = ((V[:, None, :].astype(object)
              - cent[None, :, :].astype(object)) ** 2).sum(axis=2)
        return np.argsort(d, axis=1, kind="stable")[:, :top]

    ca = order(X[:split], 1)[:, 0]
    qa = order(X[split:], nprobe)
    want = set()
    for qi in range(n - split):
        cand = np.where(np.isin(ca, qa[qi]))[0]
        ssd = ((X[split + qi].astype(object)
                - X[cand].astype(object)) ** 2).sum(axis=1)
        for ci, s in zip(cand[ssd <= max_ssd], ssd[ssd <= max_ssd]):
            want.add((f"img_{split + qi:012d}", f"img_{ci:012d}",
                      int(s)))

    got = {(r.image_id, r.matched_id, int(r.ssd))
           for _, r in ev.iterrows()}
    assert got == want
    assert len(want) > 100  # the fixture carries real evidence
