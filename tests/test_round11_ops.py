"""Round 11 — verification-debt and durability gates.

Covers the ADVICE r10 fixes (Markov sentinel guard, heavy-hitter
stream slack) and the VERDICT r10 regression gates (IVF-PQ recall,
``_fresh_stats_barrier`` fallback behavior).
"""

from __future__ import annotations

import datetime as dt
import warnings

import pytest

SF_DIR = "/root/testdata/sf0.01"

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, "
    "event_type string, value double"
)


# ---------------------------------------------------------------------------
# q_attribution_markov sentinel guard (ADVICE r10)
# ---------------------------------------------------------------------------


def test_markov_rejects_sentinel_channel_names(spark, tmp_path):
    """A real channel named 'null' (or any other reserved sentinel)
    would silently merge with the synthetic journey-end state in
    BOTH engines, so the oracle hash gate could never catch the
    corruption — the query must fail loudly instead."""
    from matrixinversion_spark.relational.temporal import (
        q_attribution_markov,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (0, t0, 1, "view", 1.0),
        (1, t0 + dt.timedelta(minutes=1), 1, "null", 1.0),
        (2, t0 + dt.timedelta(minutes=2), 1, "purchase", 1.0),
    ]
    sf = str(tmp_path)
    spark.createDataFrame(rows, EVENTS_SCHEMA).write.parquet(
        f"{sf}/events.parquet"
    )
    with pytest.raises(ValueError, match="sentinel"):
        q_attribution_markov(spark, sf)


def test_markov_guard_passes_clean_channels(spark, tmp_path):
    """Ordinary channel names (and 'purchase' itself, which maps to
    'conv' deliberately) sail through the guard."""
    from matrixinversion_spark.relational.temporal import (
        q_attribution_markov,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (0, t0, 1, "view", 1.0),
        (1, t0 + dt.timedelta(minutes=1), 1, "purchase", 1.0),
        (2, t0, 2, "click", 1.0),
    ]
    sf = str(tmp_path)
    spark.createDataFrame(rows, EVENTS_SCHEMA).write.parquet(
        f"{sf}/events.parquet"
    )
    out = q_attribution_markov(spark, sf).collect()
    assert {r.channel for r in out} == {"view", "click"}


# ---------------------------------------------------------------------------
# IVF-PQ recall regression gate (VERDICT r10 #3)
# ---------------------------------------------------------------------------


def test_ivfpq_recall_gate(spark, tmp_path):
    """Pin the measured ANN quality as a failing gate: the 200k
    sweep (scripts/exp_ivfpq_recall.py) measured refined recall@10
    of 0.988-0.992, but nothing FAILED if a codebook/nprobe change
    degraded it. This runs the same hash-seeded planted corpus and
    measurement at n=20k (deterministic — no RNG state anywhere, so
    the numbers are exactly reproducible: 0.992 at nprobe=1, 1.000
    at nprobe=2) and asserts:
      - refined recall@10 >= 0.97 at the production shape (the
        VERDICT floor), and >= 0.995 at nprobe=2 — tight enough
        that a silent fallback to single-cell probing (0.992) or
        any codebook degradation trips the gate;
      - exact-overlap@10 >= 0.98 — the top-10 LIST quality, not
        just the 1-NN hit;
      - recall is non-decreasing in nprobe (the index's defining
        trade-off curve)."""
    from scripts.exp_ivfpq_recall import (
        measure_recall,
        planted_corpus,
    )

    n = 20_000
    sf = str(tmp_path)
    planted_corpus(spark, n).write.parquet(f"{sf}/embeddings.parquet")
    res = measure_recall(spark, sf, n, nprobes=(1, 2))
    assert res[1]["refined"] <= res[2]["refined"] + 1e-9
    assert res[2]["refined"] >= 0.97   # the VERDICT floor
    assert res[2]["refined"] >= 0.995  # determinism-backed tight gate
    assert res[2]["overlap"] >= 0.98
    assert res[2]["adc"] >= 0.9


# ---------------------------------------------------------------------------
# _fresh_stats_barrier fallback path (VERDICT r10 #2)
# ---------------------------------------------------------------------------


def _chain_edges(spark, n):
    from pyspark.sql import functions as F

    e = spark.range(n - 1).select(
        F.col("id").alias("u"), (F.col("id") + 1).alias("v")
    )
    return e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))


def test_barrier_fallback_correct_and_warns_once(spark, monkeypatch):
    """Force the Spark-internal ``internalCreateDataFrame`` to be
    unavailable (a Spark upgrade moving it) and pin the fallback's
    contract: iterative results are IDENTICAL to the primary path,
    the RuntimeWarning fires exactly once per process, and the
    bounded-round loop's Spark-job count does not blow up (the
    compounding the barrier prevents is PLANNING cost; execution
    shape must stay the same). A silent behavior change on either
    path now fails a test instead of shipping."""
    import matrixinversion_spark.pipeline.curation as cur
    from matrixinversion_spark.profile import profiled

    edges = _chain_edges(spark, 16).localCheckpoint(eager=True)

    def jobs_during(fn):
        with profiled(spark, "connected-components") as p:
            out = fn()
        return out, p.jobs

    (labels_ok, rounds_ok), jobs_ok = jobs_during(
        lambda: cur.connected_components(edges)
    )
    primary = {r.doc_id: r.label for r in labels_ok.collect()}
    assert set(primary.values()) == {0}  # one chain component

    def boom(ck):
        raise RuntimeError("internalCreateDataFrame moved")

    monkeypatch.setattr(cur, "_rebuild_without_stats", boom)
    monkeypatch.setattr(cur, "_BARRIER_FALLBACK_WARNED", False)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        (labels_fb, rounds_fb), jobs_fb = jobs_during(
            lambda: cur.connected_components(edges)
        )
        fallback = {r.doc_id: r.label for r in labels_fb.collect()}
        runtime_warns = [
            w for w in caught
            if issubclass(w.category, RuntimeWarning)
            and "_fresh_stats_barrier" in str(w.message)
        ]
    assert fallback == primary
    assert rounds_fb == rounds_ok
    assert len(runtime_warns) == 1, (
        f"expected exactly one fallback warning, got "
        f"{len(runtime_warns)} (one-shot latch broken)"
    )
    # same execution shape: the fallback may not add jobs beyond the
    # checkpoint-per-round the primary path already runs
    assert jobs_fb <= jobs_ok + 2, (
        f"fallback ran {jobs_fb} jobs vs primary {jobs_ok}"
    )
    # second run under the latch: no further warning
    with warnings.catch_warnings(record=True) as caught2:
        warnings.simplefilter("always")
        cur.connected_components(edges)[0].count()
    assert not [
        w for w in caught2
        if issubclass(w.category, RuntimeWarning)
        and "_fresh_stats_barrier" in str(w.message)
    ]


# ---------------------------------------------------------------------------
# multimodal decode: fake always, real automatically when PIL lands
# (VERDICT r10 #6)
# ---------------------------------------------------------------------------


def _decode_via_spark(spark, payloads, decoder):
    from matrixinversion_spark.pipeline.multimodal import (
        DECODE_SCHEMA,
        make_decode_batches,
    )

    df = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in enumerate(payloads)],
        "doc_id long, payload binary",
    )
    return {
        r.doc_id: (r.n_bytes, r.width, r.height, r.n_frames)
        for r in df.mapInPandas(
            make_decode_batches(decoder), schema=DECODE_SCHEMA
        ).collect()
    }


def test_decode_pipeline_fake(spark):
    from matrixinversion_spark.pipeline.multimodal import (
        decode_image_fake,
    )

    payloads = [b"x" * n for n in (1, 639, 640, 5000)]
    got = _decode_via_spark(spark, payloads, decode_image_fake)
    for i, p in enumerate(payloads):
        n = len(p)
        assert got[i] == (n, n % 640 + 1, (n // 640) % 480 + 1, n % 7 + 1)


def test_decode_pipeline_real_with_pil(spark):
    """Runs the REAL pixel decoder through the identical mapInPandas
    plumbing — automatically, whenever the environment gains PIL."""
    from matrixinversion_spark.pipeline.multimodal import (
        _pil_available,
        decode_image_real,
    )

    if not _pil_available():
        pytest.skip("PIL not installed in this container")
    import io

    from PIL import Image

    def png_bytes(w, h):
        buf = io.BytesIO()
        Image.new("RGB", (w, h)).save(buf, format="PNG")
        return buf.getvalue()

    dims = [(3, 5), (640, 1), (17, 17)]
    got = _decode_via_spark(
        spark, [png_bytes(w, h) for w, h in dims], decode_image_real
    )
    for i, (w, h) in enumerate(dims):
        nb, gw, gh, nf = got[i]
        assert (gw, gh, nf) == (w, h, 1)


def test_resize_nearest_neighbor_hand_computed(spark):
    """3-byte payload: the fake canvas is 4x1 (w=nb%640+1=4, h=1);
    every one of the 32x32 thumbnail pixels maps back to row 0 and
    column (j*4)//32 — hand-compute the expected sum from the
    derived-pixel formula pix = (nb*31 + 7r + 13c) % 256."""
    from matrixinversion_spark.pipeline.multimodal import (
        RESIZE_H,
        RESIZE_W,
        resize_batches,
    )

    nb = 3
    df = spark.createDataFrame(
        [(7, bytearray(b"abc"))], "doc_id long, payload binary"
    )
    [row] = df.mapInPandas(
        resize_batches,
        schema=(
            "doc_id bigint, out_w int, out_h int, "
            "sum_px bigint, mean_px double"
        ),
    ).collect()
    expect = sum(
        (nb * 31 + 7 * 0 + 13 * ((j * 4) // RESIZE_W)) % 256
        for _i in range(RESIZE_H)
        for j in range(RESIZE_W)
    )
    assert (row.out_w, row.out_h) == (RESIZE_W, RESIZE_H)
    assert row.sum_px == expect
    assert row.mean_px == expect / 1024.0  # exact: /2**10


def test_frame_sample_shapes_and_empty_frames(spark):
    """One row per (doc, t) — the explode contract — including
    byte-less frames: a 2-byte payload has n_frames=3 > n_bytes, so
    fs=0 and every sampled frame reduces to sig 0 instead of
    dropping; a longer payload's signatures match a direct python
    replay of the derived stream."""
    from matrixinversion_spark.pipeline.multimodal import (
        FRAME_SAMPLE_K,
        frame_sample_batches,
    )

    payloads = {1: b"xy", 2: bytes(range(200)) * 3}  # nb=2, nb=600
    df = spark.createDataFrame(
        [(k, bytearray(v)) for k, v in payloads.items()],
        "doc_id long, payload binary",
    )
    rows = df.mapInPandas(
        frame_sample_batches,
        schema=(
            "doc_id bigint, t bigint, frame_idx bigint, "
            "byte_offset bigint, sig bigint"
        ),
    ).collect()
    assert len(rows) == FRAME_SAMPLE_K * len(payloads)
    got = {(r.doc_id, r.t): r for r in rows}
    for doc_id, p in payloads.items():
        nb = len(p)
        nf = nb % 7 + 1
        fs = nb // nf
        stream = [(nb * 17 + b * 11) % 256 for b in range(nb)]
        for t in range(FRAME_SAMPLE_K):
            f = (t * nf) // FRAME_SAMPLE_K
            r = got[(doc_id, t)]
            assert r.frame_idx == f
            assert r.byte_offset == f * fs
            assert r.sig == sum(stream[f * fs:(f + 1) * fs])
    # the 2-byte doc: nf=3, fs=0 -> all sigs 0
    assert all(got[(1, t)].sig == 0 for t in range(FRAME_SAMPLE_K))


def test_feature_histogram_planted_bytes(spark):
    """Content-addressed: two payloads with the same LENGTH but
    different bytes must produce different histograms (the property
    the metadata-derived ops can't have), empty payloads emit no
    rows, and bins beyond byte 255 of a long payload are ignored."""
    from matrixinversion_spark.pipeline.multimodal import (
        FEATURE_PREFIX_BYTES,
        feature_batches,
    )

    p_low = bytes([0x00] * 4 + [0x1F] * 4)        # bins 0 (x4), 1 (x4)
    p_high = bytes([0xF0] * 8)                     # bin 15 (x8)
    p_long = bytes([0x20]) * (FEATURE_PREFIX_BYTES + 50)  # bin 2 x256
    df = spark.createDataFrame(
        [
            (1, bytearray(p_low)),
            (2, bytearray(p_high)),
            (3, bytearray(b"")),
            (4, bytearray(p_long)),
        ],
        "doc_id long, payload binary",
    )
    rows = df.mapInPandas(
        feature_batches, schema="doc_id bigint, bin bigint, cnt bigint"
    ).collect()
    got: dict = {}
    for r in rows:
        got.setdefault(r.doc_id, {})[r.bin] = r.cnt
    assert got[1] == {0: 4, 1: 4}
    assert got[2] == {15: 8}
    assert 3 not in got                       # empty payload: no rows
    assert got[4] == {2: FEATURE_PREFIX_BYTES}  # prefix-bounded


def test_features_prefix_sliced_jvm_side(spark):
    """Plan pin for the scale claim: the 256-byte prefix slice must
    appear as a JVM-side Project (whole-stage codegen) FEEDING the
    Python map — not inside it — so Arrow ships at most 256 bytes
    per document. Removing the substr would silently reintroduce
    corpus-sized executor->worker transfer."""
    from matrixinversion_spark.pipeline.multimodal import (
        p_multimodal_features,
    )

    df = p_multimodal_features(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "substr" in plan, (
        "feature prefix slice no longer in the physical plan — "
        "full payloads are crossing the Arrow boundary"
    )
    assert plan.index("substr") > plan.index("MapInPandas"), (
        "substr is not upstream of the Python map (physical plans "
        "print top-down, so the producing Project appears AFTER the "
        "MapInPandas node that consumes it)"
    )


def test_wav_header_roundtrip_and_chunk_walking():
    """parse_wav_header reads real RIFF bytes: synth round-trips,
    an odd-sized extra chunk before fmt exercises the word-alignment
    pad byte, and non-WAV / truncated payloads raise."""
    from matrixinversion_spark.pipeline.multimodal import (
        parse_wav_header,
        synth_wav_header,
    )

    for ch, sr, bits, nb in [
        (1, 8000, 8, 64), (2, 44100, 16, 12800), (2, 16000, 8, 1)
    ]:
        assert parse_wav_header(synth_wav_header(ch, sr, bits, nb)) \
            == (ch, sr, bits, nb)

    # hand-build: RIFF + odd-size junk chunk (pad byte!) + fmt + data
    fmt = (
        (1).to_bytes(2, "little") + (2).to_bytes(2, "little")
        + (22050).to_bytes(4, "little")
        + (22050 * 4).to_bytes(4, "little")
        + (4).to_bytes(2, "little") + (16).to_bytes(2, "little")
    )
    body = (
        b"WAVE"
        + b"LIST" + (3).to_bytes(4, "little") + b"abc" + b"\x00"  # pad
        + b"fmt " + (16).to_bytes(4, "little") + fmt
        + b"data" + (999).to_bytes(4, "little")
    )
    raw = b"RIFF" + len(body).to_bytes(4, "little") + body
    assert parse_wav_header(raw) == (2, 22050, 16, 999)

    with pytest.raises(ValueError, match="RIFF"):
        parse_wav_header(b"OggS\x00\x00")
    with pytest.raises(ValueError, match="missing"):
        parse_wav_header(b"RIFF\x04\x00\x00\x00WAVE")


def test_decode_image_real_declares_env_gap():
    """Round 12 shrank the gap twice: PNG, GIF and baseline JPEG all
    decode for real (pure Python), so the PIL gate now covers only
    formats outside those codecs (and JPEG's progressive tier, which
    raises UnsupportedImageError for the fallback)."""
    from matrixinversion_spark.pipeline.multimodal import (
        UnsupportedImageError,
        _pil_available,
        decode_image_real,
    )

    if _pil_available():
        pytest.skip("PIL present — covered by the real-path test")
    # unknown format (BMP magic) -> the declared env gap
    with pytest.raises(NotImplementedError, match="PIL"):
        decode_image_real(b"BM" + bytes(30))
    # structurally valid but unimplemented JPEG tier (progressive)
    prog = (
        b"\xff\xd8"
        + b"\xff\xc2" + (11).to_bytes(2, "big")
        + bytes([8]) + (8).to_bytes(2, "big") + (8).to_bytes(2, "big")
        + bytes([1, 1, 0x11, 0])
    )
    with pytest.raises(UnsupportedImageError, match="progressive"):
        decode_image_real(prog)
    # a bare header with no scan is CORRUPTION now, not a gap
    from matrixinversion_spark.pipeline.multimodal import (
        synth_image_header,
    )

    with pytest.raises(ValueError, match="truncated"):
        decode_image_real(synth_image_header("jpeg", 3, 3))
