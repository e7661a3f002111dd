"""Round-13 operators and regressions: keyed-state admission TTL,
audio spectrogram/VAD, GIF decode and frame sampling, and session
finalization.
"""

from __future__ import annotations

from pyspark.sql import functions as F

SF001 = "/root/testdata/sf0.001"


# --- stream_stateful_admission (keyed state + event-time-timer TTL) ----------


def _run_admission(spark, batches, gap_ms, cap, tmp_path):
    """Stage crafted (event_id, epoch_s, user_id) batches and drain the
    stateful-admission operator over them."""
    import pandas as pd

    from airbnb_listings_reviews_data_engineering_spark.streaming.ingest import (
        run_available_now,
        stage_batch,
        staged_stream,
        stateful_admission,
    )

    stream_dir = str(tmp_path / "in")
    import os

    os.makedirs(stream_dir)
    for seq, rows in enumerate(batches, start=1):
        pdf = pd.DataFrame(rows, columns=["event_id", "epoch", "user_id"])
        df = spark.createDataFrame(pdf).select(
            "event_id",
            F.timestamp_seconds("epoch").alias("ts"),
            "user_id",
            F.lit(seq).alias("bseq"),
        )
        stage_batch(df, stream_dir, f"batch{seq}.parquet", seq)
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    stream = staged_stream(
        spark, stream_dir, "event_id bigint, ts timestamp, user_id bigint, bseq int"
    ).withWatermark("ts", "0 seconds")
    out = stateful_admission(
        stream,
        gap_ms=gap_ms,
        cap=cap,
        fired_bseq_bounds_ms=(2_000_000, 4_000_000),
    )
    res = run_available_now(
        out, query_name=f"ssa_test_{tmp_path.name}", output_mode="update"
    )
    return [tuple(r) for r in res.collect()]


def test_admission_ttl_expiry_boundary_is_strictly_less_than(spark, tmp_path):
    """TTL boundary pin: a timer at exactly the watermark must NOT fire
    (Spark's event-time timeout condition is timeoutTimestamp <
    watermark); one millisecond-equivalent below it must. G = 3600 s.

    user 1: last event 1000 s -> timer 4600 s; batch-2 max ts is exactly
    4600 s, so the flush watermark == 4600000 ms -> no expiry.
    user 2: last event 999 s -> timer 4599 s < 4600 s -> expires."""
    rows = _run_admission(
        spark,
        [
            [(1, 1000, 1), (2, 999, 2)],
            [(3, 4600, 9)],
        ],
        gap_ms=3_600_000,
        cap=3,
        tmp_path=tmp_path,
    )
    expired = {r[0] for r in rows if r[1] == "expired"}
    assert 2 in expired
    assert 1 not in expired
    # the expiring firing happened under the flush watermark (>= b2
    # bound) and is attributed to the flush batch
    exp2 = [r for r in rows if r[0] == 2 and r[1] == "expired"][0]
    assert exp2[2] == 4 and exp2[6] == 1


def test_admission_state_cleared_on_expiry_reopens_session(spark, tmp_path):
    """After a timer fires and clears state, the user's next event must
    open a NEW session (n_open = 1) with a reset admission counter."""
    rows = _run_admission(
        spark,
        [
            # u1: 4 events in one session -> 3 admits, 1 reject
            [(1, 1000, 1), (2, 1010, 1), (3, 1020, 1), (4, 1030, 1)],
            # watermark movers only (u9): timers fire only for keys with
            # NO input in the firing batch, so u1 must sit idle while the
            # watermark climbs past its 1030+3600 timer — batch 2 raises
            # wm to 1030 (no fire), batch 3 runs under wm 9000 (fires)
            [(5, 9000, 9)],
            [(6, 9500, 9)],
            # u1 returns: new session, counter reset -> admit again
            [(7, 20000, 1), (8, 20010, 1)],
        ],
        gap_ms=3_600_000,
        cap=3,
        tmp_path=tmp_path,
    )
    u1 = sorted(
        [r for r in rows if r[0] == 1], key=lambda r: (r[1], r[2])
    )
    # batch 1: one session opened, 3 admitted, 1 rejected
    b1 = [r for r in u1 if r[1] == "batch" and r[2] == 1][0]
    assert (b1[3], b1[4], b1[5]) == (3, 1, 1)
    exp = [r for r in u1 if r[1] == "expired"]
    assert len(exp) == 1 and exp[0][6] == 1
    # batch 4: fresh session, both admitted
    b4 = [r for r in u1 if r[1] == "batch" and r[2] == 4][0]
    assert (b4[3], b4[4], b4[5]) == (2, 0, 1)


def test_admission_cap_continues_across_batches_without_gap(spark, tmp_path):
    """A session spanning two micro-batches keeps ONE admission
    counter: 2 admits in batch 1 + 2 more events within the gap in
    batch 2 -> only 1 more admit (cap 3), no new session opened."""
    rows = _run_admission(
        spark,
        [
            [(1, 1000, 1), (2, 1010, 1)],
            [(3, 1500, 1), (4, 1510, 1)],
        ],
        gap_ms=3_600_000,
        cap=3,
        tmp_path=tmp_path,
    )
    b2 = [r for r in rows if r[0] == 1 and r[1] == "batch" and r[2] == 2][0]
    assert (b2[3], b2[4], b2[5]) == (1, 1, 0)


# --- frequency-domain audio (integer STFT) -----------------------------------


def test_spectrogram_peak_band_is_planted_bin(spark):
    from airbnb_listings_reviews_data_engineering_spark.plans import all_queries

    q = all_queries()["mm_audio_spectrogram"].fn
    rows = q(spark, SF001).collect()
    assert len(rows) == 100 * 9
    peaks = {r.doc_id: r.band for r in rows if r.is_peak}
    assert len(peaks) == 100
    for doc, band in peaks.items():
        assert band == 1 + doc % 7
    # Hann mainlobe: the peak bin dominates every other bin by > 3x
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, {})[r.band] = r.energy
    for doc, bands in by_doc.items():
        peak = bands[peaks[doc]]
        for b, e in bands.items():
            if b != peaks[doc]:
                assert e * 3 < peak


def test_vad_band_emits_exactly_two_segments_at_duty_blocks(spark):
    from airbnb_listings_reviews_data_engineering_spark.plans import all_queries

    q = all_queries()["mm_audio_vad_band"].fn
    rows = q(spark, SF001).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(
            (r.start_frame, r.end_frame, r.n_frames)
        )
    assert len(by_doc) == 150
    for doc, segs in by_doc.items():
        assert sorted(segs) == [(0, 3, 4), (8, 11, 4)]


def test_vad_band_gate_rejects_what_a_raw_rms_gate_admits(spark):
    """The discriminating claim of the band gate: idle blocks carry a
    DC offset, so their TIME-domain energy is nonzero (a raw-RMS gate
    with any threshold below the DC floor admits them) while their
    speech-band (bins 1-3) energy stays ~6x under the gate (the
    Hann mainlobe leaks some DC into bin 1 — that leak is exactly why
    the gate threshold sits at 1e9, between leak ~1.6e8 and tone
    ~8.2e10)."""
    from airbnb_listings_reviews_data_engineering_spark.operators import (
        multimodal as MM,
    )
    from airbnb_listings_reviews_data_engineering_spark.plans.pipeline_ext import (
        _VBD_BIN_MOD,
        _VBD_DUTY,
        _VBD_IDLE_DC,
        _VBD_SAMPLES,
        _VBD_TH,
    )

    ids = spark.range(3).withColumnRenamed("id", "doc_id")
    wavs = MM.synthesize_tone_pcm(
        ids,
        "doc_id",
        n_samples=_VBD_SAMPLES,
        bin_mod=_VBD_BIN_MOD,
        duty_block=_VBD_DUTY,
        idle_dc=_VBD_IDLE_DC,
    )
    # time domain: idle windows (4..7) have exact DC energy 16 * 50^2
    rms = {
        (r.doc_id, r.win_idx): r.sumsq
        for r in MM.audio_window_rms(wavs, window=16).collect()
    }
    for doc in range(3):
        for w in range(4, 8):
            assert rms[(doc, w)] == 16 * _VBD_IDLE_DC * _VBD_IDLE_DC
    # frequency domain: idle frames' in-band energy is far below the gate
    spec = MM.audio_spectrogram_bands(wavs, hop=16)
    inband = {}
    for r in spec.filter(F.col("band").between(1, 3)).collect():
        inband[(r.doc_id, r.frame_idx)] = (
            inband.get((r.doc_id, r.frame_idx), 0) + r.energy
        )
    for doc in range(3):
        for f in range(4, 8):
            assert inband[(doc, f)] * 5 < _VBD_TH
        for f in list(range(0, 4)) + list(range(8, 12)):
            assert inband[(doc, f)] > _VBD_TH


# --- GIF decode (pure-Python LZW) --------------------------------------------


def test_gif_lzw_roundtrip_with_table_reset():
    """The LZW pair must survive a dictionary overflow: 20k random
    bytes force >4096 table entries, so the encoder emits CLEAR and
    both sides rebuild mid-stream."""
    import random

    from airbnb_listings_reviews_data_engineering_spark.operators.multimodal import (
        _gif_lzw_decode,
        _gif_lzw_encode,
    )

    rnd = random.Random(13)
    data = bytes(rnd.randrange(256) for _ in range(20000))
    assert bytes(_gif_lzw_decode(_gif_lzw_encode(data))) == data


def test_gif_and_png_same_pixels_same_dhash(spark):
    """Container-independent perceptual dedup: a (w, h, seed)-matched
    PNG/GIF pair decodes to identical pixels, so dHash must agree bit
    for bit across codecs."""
    from airbnb_listings_reviews_data_engineering_spark.operators import (
        multimodal as MM,
    )

    spec = spark.range(20).select(
        F.col("id").alias("doc_id"),
        (16 + F.col("id") % 48).alias("w"),
        (16 + (F.col("id") * 7) % 48).alias("h"),
        F.col("id").alias("seed"),
    )
    png = {
        r.doc_id: (r.width, r.height, r.dhash_hi, r.dhash_lo)
        for r in MM.png_dhash(MM.synthesize_png_spec(spec)).collect()
    }
    gif = {
        r.doc_id: (r.width, r.height, r.dhash_hi, r.dhash_lo)
        for r in MM.png_dhash(MM.synthesize_gif_spec(spec)).collect()
    }
    assert png == gif and len(png) == 20


def test_probe_media_reports_gif_dims(spark):
    from airbnb_listings_reviews_data_engineering_spark.operators import (
        multimodal as MM,
    )

    spec = spark.range(3).select(
        F.col("id").alias("doc_id"),
        F.lit(33).alias("w"),
        F.lit(21).alias("h"),
        F.col("id").alias("seed"),
    )
    probed = MM.probe_media(MM.synthesize_gif_spec(spec)).collect()
    for r in probed:
        assert (r.fmt, r.width, r.height) == ("gif", 33, 21)


def test_gif_decode_rejects_color_palette_and_interlace(spark):
    """Robustness contract: unsupported GIF layouts surface as NULL
    stats, never an abort."""
    import pandas as pd

    from airbnb_listings_reviews_data_engineering_spark.operators import (
        multimodal as MM,
    )
    from airbnb_listings_reviews_data_engineering_spark.operators.multimodal import (
        _gif_bytes,
    )

    good = bytearray(_gif_bytes(8, 8, seed=1))
    color = bytearray(good)
    color[13 + 3 * 10 + 1] ^= 0xFF  # palette entry 10: g != r
    interlaced = bytearray(good)
    # image descriptor flags byte: header(13) + palette(768) + 0x2C + 8
    idesc = 13 + 768
    assert good[idesc] == 0x2C
    interlaced[idesc + 9] |= 0x40
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "payload": [bytes(good), bytes(color), bytes(interlaced)],
        }
    )
    out = {
        r.doc_id: r.n_pixels
        for r in MM.decode_png_stats(spark.createDataFrame(pdf)).collect()
    }
    assert out[1] == 64 and out[2] is None and out[3] is None


def test_integer_dft_matches_numpy_rfft_within_quantization():
    """The spectrogram's quantized integer transform must approximate
    the TRUE Hann STFT: for random frames, per-band energies from the
    int64 path (descaled by the Hann/twiddle/DIV scale factors) must
    match |rfft(hann * x)|^2 within the quantization error budget —
    tying the oracle-checkable arithmetic to the reference transform,
    not just to itself."""
    import numpy as np

    from airbnb_listings_reviews_data_engineering_spark.operators.multimodal import (
        SPEC_ENERGY_DIV,
        SPEC_FRAME,
        SPEC_HANN_SCALE,
        SPEC_TWIDDLE_SCALE,
        _spec_tables,
    )

    rng = np.random.default_rng(99)
    hann_q, tc, ts = _spec_tables()
    j = np.arange(SPEC_FRAME)
    hann_true = 0.5 - 0.5 * np.cos(2 * np.pi * j / SPEC_FRAME)
    scale = (2 * SPEC_HANN_SCALE) * SPEC_TWIDDLE_SCALE  # hann*2^7*2 , tw*2^8
    for _ in range(50):
        x = rng.integers(-1024, 1024, SPEC_FRAME).astype(np.int64)
        w = x * hann_q
        e_int = ((tc @ w) ** 2 + (ts @ w) ** 2) * 1.0  # pre-DIV energies
        spec = np.fft.rfft(x * hann_true)
        # rfft sign convention: exp(-i...) -> imag = -sin sum; energy
        # is sign-agnostic. Descale: int path scales amplitude by
        # 2*SPEC_HANN_SCALE (hann in [0,2*128]) * SPEC_TWIDDLE_SCALE.
        e_true = (np.abs(spec) ** 2) * (scale**2)
        # floor the denominator at 1% of the frame's peak energy:
        # quantization error is absolute-ish, so a near-null band's
        # RELATIVE error is meaningless — what matters is error
        # relative to the energies a gate would act on
        denom = np.maximum(e_true, 0.01 * e_true.max())
        rel = np.abs(e_int - e_true) / denom
        assert rel.max() < 0.08, rel
        # summed one-sided energy agrees tightly (same convention
        # on both sides, so quantization noise largely cancels)
        assert abs(e_int.sum() - e_true.sum()) / e_true.sum() < 0.01
    # and the committed DIV keeps values exact integers
    assert SPEC_ENERGY_DIV == 1 << 20


def test_gif_animation_frames_decode_distinctly(spark):
    """Animated-GIF decode must return EVERY frame with its own
    pixels: frame f's formula offsets by f*31, so a decoder that
    repeated frame 0 (or dropped frames after the first terminator)
    fails. Frame parity with the arithmetic formula is checked for
    one payload end to end."""
    from airbnb_listings_reviews_data_engineering_spark.operators.multimodal import (
        _gif_animation_bytes,
        _gif_decode_frames,
    )

    frames = _gif_decode_frames(_gif_animation_bytes(20, 12, seed=7, n_frames=4))
    assert len(frames) == 4
    for f, (w, h, px) in enumerate(frames):
        assert (w, h) == (20, 12)
        expect = bytes(
            (x * 7 + y * 13 + 7 + f * 31) % 256
            for y in range(12)
            for x in range(20)
        )
        assert bytes(px) == expect


def test_gif_frame_sample_keeps_every_second_frame(spark):
    from airbnb_listings_reviews_data_engineering_spark.plans import all_queries

    rows = all_queries()["mm_gif_frame_sample"].fn(spark, SF001).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r.frame_idx)
    assert len(by_doc) == 100
    for doc, fs in by_doc.items():
        nf = 2 + doc % 3
        assert sorted(fs) == [f for f in range(nf) if f % 2 == 0]


def test_session_finalize_gap_vs_timer_attribution(spark, tmp_path):
    """Emit-on-close contract: a session closed by a later event in
    the SAME batch emits with closed_by='gap'; a session whose user
    goes idle while the watermark passes its horizon emits with
    closed_by='timer'; a trailing still-open session is never emitted."""
    import os

    import pandas as pd

    from airbnb_listings_reviews_data_engineering_spark.streaming.ingest import (
        run_available_now,
        session_finalize,
        stage_batch,
        staged_stream,
    )

    stream_dir = str(tmp_path / "in")
    os.makedirs(stream_dir)
    batches = [
        # u1: two sessions in ONE batch (gap close), second stays open
        # u2: one session, then idle forever (timer close at flush)
        [(1, 1000, 1, 5), (2, 1010, 1, 7), (3, 99000, 1, 11),
         (4, 1000, 2, 13)],
        # watermark mover (u9): wm at flush = 999000 > 1010+3600 and
        # > 1000+3600, but NOT > 99000+3600? 999000 > 102600 -> u1's
        # trailing session WOULD close too; keep it open by moving wm
        # only to 100000 (u9 ts 100000): 100000 < 102600 -> open.
        [(5, 100000, 9, 0)],
    ]
    for seq, rows in enumerate(batches, start=1):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "epoch", "user_id", "vq"]
        )
        df = spark.createDataFrame(pdf).select(
            "event_id",
            F.timestamp_seconds("epoch").alias("ts"),
            "user_id",
            F.col("vq").cast("long"),
        )
        stage_batch(df, stream_dir, f"batch{seq}.parquet", seq)
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    stream = staged_stream(
        spark, stream_dir, "event_id bigint, ts timestamp, user_id bigint, vq bigint"
    ).withWatermark("ts", "0 seconds")
    out = session_finalize(stream, gap_ms=3_600_000)
    res = run_available_now(
        out, query_name=f"ssf_test_{tmp_path.name}", output_mode="update"
    )
    rows = {(r.user_id, r.start_us): r for r in res.collect()}
    # u1's first session: gap-closed by event 3 in the same batch
    s1 = rows[(1, 1_000_000_000)]
    assert (s1.end_us, s1.n_events, s1.sum_value_e4, s1.closed_by) == (
        1_010_000_000, 2, 12, "gap",
    )
    # u1's trailing session (99000s): wm never passes 99000+3600 -> open
    assert (1, 99_000_000_000) not in rows
    # u2: timer-closed at the flush (wm 100000s > 1000+3600)
    s2 = rows[(2, 1_000_000_000)]
    assert (s2.n_events, s2.sum_value_e4, s2.closed_by) == (1, 13, "timer")
    # u9's own session stays open (nothing ever advances wm past it)
    assert all(u != 9 for u, _ in rows)
