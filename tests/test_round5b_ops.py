"""Unit semantics for the round-5 second-batch operators — WAV codec
round-trip, SCD2 history, winnowing fingerprints — on hand-built inputs
where the expected output is computable by eye; the catalog oracle
re-checks the same ops statistically at sf0.001/0.01."""

from __future__ import annotations

import pyspark.sql.functions as F

# ---------------------------------------------------------------------------
# WAV codec (pure Python — no Spark needed)
# ---------------------------------------------------------------------------


def test_wav_roundtrip_exact():
    from bioeco_portal_etl_spark.multimodal.wavpcm import (
        SAMPLE_RATE,
        decode_wav,
        encode_wav,
    )

    samples = [0, 1, -1, 32767, -32768, 1000, -999, 7]
    rate, back = decode_wav(encode_wav(samples))
    assert back == samples
    assert rate == SAMPLE_RATE


def test_wav_is_real_riff():
    """The payload must be a genuine RIFF/WAVE container, not a pickle."""
    from bioeco_portal_etl_spark.multimodal.wavpcm import encode_wav

    b = encode_wav([1, 2, 3])
    assert b[:4] == b"RIFF" and b[8:12] == b"WAVE"
    import wave as stdlib_wave
    import io

    with stdlib_wave.open(io.BytesIO(b), "rb") as w:
        assert w.getnframes() == 3
        assert w.getsampwidth() == 2


def test_wav_rejects_stereo():
    import io
    import struct
    import wave as stdlib_wave

    import pytest

    from bioeco_portal_etl_spark.multimodal.wavpcm import decode_wav

    buf = io.BytesIO()
    with stdlib_wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(16000)
        w.writeframes(struct.pack("<4h", 1, 2, 3, 4))
    with pytest.raises(ValueError, match="mono"):
        decode_wav(buf.getvalue())


def test_wav_clip_stats_stage(spark):
    """End-to-end Spark stages: synth -> real WAV bytes -> parse -> stats,
    checked against a driver-side recompute of the same formula."""
    from bioeco_portal_etl_spark.multimodal.media import (
        SYNTH_N_BASE,
        SYNTH_N_MOD,
        synth_pcm_wav,
        wav_clip_stats,
    )

    ids = spark.createDataFrame([(0,), (3,), (17,)], "doc_id long")
    rows = {
        r.media_id: r
        for r in wav_clip_stats(synth_pcm_wav(ids, "doc_id")).collect()
    }
    for mid in (0, 3, 17):
        n = SYNTH_N_BASE + mid % SYNTH_N_MOD
        s = [(mid * 13 + i * 7) % 2048 - 1024 for i in range(n)]
        r = rows[mid]
        assert r.n_samples == n
        assert r.energy == sum(v * v for v in s)
        assert r.min_s == min(s) and r.max_s == max(s)
        assert r.zero_cross == sum(
            1 for a, b in zip(s, s[1:]) if (a >= 0) != (b >= 0)
        )


# ---------------------------------------------------------------------------
# SCD2 history
# ---------------------------------------------------------------------------


def _scd(spark, rows):
    from bioeco_portal_etl_spark.operators.scd import scd2_history

    df = spark.createDataFrame(rows, "k string, v string, ts long, id long")
    return (
        scd2_history(df, ["k"], "v", ["ts", "id"], ts_col="ts")
        .orderBy("k", "version")
        .collect()
    )


def test_scd2_collapses_and_stitches(spark):
    got = _scd(
        spark,
        [
            ("a", "x", 1, 1),
            ("a", "x", 2, 2),  # unchanged -> same version
            ("a", "y", 3, 3),  # change
            ("a", "x", 4, 4),  # change BACK -> new version (append-only)
            ("b", "z", 1, 5),
        ],
    )
    a = [(r.v, r.valid_from, r.valid_to, r.version, r.is_current)
         for r in got if r.k == "a"]
    assert a == [
        ("x", 1, 3, 1, 0),
        ("y", 3, 4, 2, 0),
        ("x", 4, None, 3, 1),
    ]
    b = [(r.v, r.valid_from, r.valid_to, r.version, r.is_current)
         for r in got if r.k == "b"]
    assert b == [("z", 1, None, 1, 1)]


def test_scd2_null_transitions(spark):
    """NULL->x, x->NULL and a first-row NULL all open versions."""
    got = _scd(
        spark,
        [
            ("a", None, 1, 1),
            ("a", "x", 2, 2),
            ("a", None, 3, 3),
            ("a", None, 4, 4),  # unchanged NULL -> no new version
        ],
    )
    assert [(r.v, r.version) for r in got] == [
        (None, 1),
        ("x", 2),
        (None, 3),
    ]


def test_scd2_equal_timestamp_ties_deterministic(spark):
    """Two changes at the same ts version by the id tie-break."""
    got = _scd(spark, [("a", "x", 5, 2), ("a", "y", 5, 1)])
    assert [(r.v, r.version, r.is_current) for r in got] == [
        ("y", 1, 0),
        ("x", 2, 1),
    ]


# ---------------------------------------------------------------------------
# winnowing fingerprints
# ---------------------------------------------------------------------------


def _winnow_py(text, k, w):
    """Reference winnowing in pure Python (md5 hex hashes, min per
    window, dedup by (fp -> first selecting window position))."""
    import hashlib

    grams = [
        hashlib.md5(text[p : p + k].encode()).hexdigest()
        for p in range(len(text) - k + 1)
    ]
    out = {}
    for p in range(len(grams) - w + 1):
        fp = min(grams[p : p + w])
        out.setdefault(fp, p + 1)  # 1-based
    return out


def test_winnow_matches_reference(spark):
    from bioeco_portal_etl_spark.text.winnow import winnow_fingerprints

    text = "the quick brown fox jumps over the quick brown dog"
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = {
        r.fp: r.pos
        for r in winnow_fingerprints(df, "doc_id", "text", k=5, w=4).collect()
    }
    assert got == _winnow_py(text, 5, 4)


def test_winnow_guarantee_shared_fingerprint(spark):
    """The winnowing guarantee: two docs sharing a substring of length
    >= w + k - 1 share at least one selected fingerprint."""
    from bioeco_portal_etl_spark.text.winnow import winnow_fingerprints

    shared = "identical-passage!"  # 18 >= 5 + 4 - 1
    df = spark.createDataFrame(
        [
            (1, "aaaa " + shared + " bbbb"),
            (2, "zzzzzz " + shared + " qqq"),
        ],
        "doc_id long, text string",
    )
    rows = winnow_fingerprints(df, "doc_id", "text", k=5, w=4).collect()
    fps1 = {r.fp for r in rows if r.doc_id == 1}
    fps2 = {r.fp for r in rows if r.doc_id == 2}
    assert fps1 & fps2


def test_winnow_short_and_null_docs_vanish(spark):
    from bioeco_portal_etl_spark.text.winnow import winnow_fingerprints

    df = spark.createDataFrame(
        [(1, "mini"), (2, None), (3, "1234567"), (4, "12345678")],
        "doc_id long, text string",
    )
    rows = winnow_fingerprints(df, "doc_id", "text", k=5, w=4).collect()
    # len 8 = k + w - 1 -> exactly one complete window; shorter -> none
    assert {r.doc_id for r in rows} == {4}
    assert len(rows) == 1 and rows[0].pos == 1


# ---------------------------------------------------------------------------
# PSI drift
# ---------------------------------------------------------------------------


def test_psi_identical_slices_zero(spark):
    """Identical ref/cur distributions -> every term is exactly 0 (ln(1)
    on equal smoothed proportions), so psi_e4 == 0."""
    from bioeco_portal_etl_spark.operators.drift import psi_drift

    rows = [("k", float(v), c) for v in (10, 60, 110, 470) for c in (True, False)]
    df = spark.createDataFrame(rows, "k string, value double, cur boolean")
    r = psi_drift(df, "k", "value", "cur").collect()[0]
    assert (r.n_ref, r.n_cur, r.psi_e4) == (4, 4, 0)


def test_psi_matches_python_reference(spark):
    from math import floor, log

    from bioeco_portal_etl_spark.operators.drift import psi_drift

    vals_ref = [5.0, 5.0, 30.0, 55.0, 480.0, 499.0]
    vals_cur = [5.0, 130.0, 130.0, 155.0]
    rows = [("k", v, False) for v in vals_ref] + [
        ("k", v, True) for v in vals_cur
    ]
    df = spark.createDataFrame(rows, "k string, value double, cur boolean")
    got = psi_drift(df, "k", "value", "cur").collect()[0]

    def bin_of(v):
        return min(int(v // 25), 19)

    bins = sorted({bin_of(v) for v in vals_ref + vals_cur})
    nr = {b: sum(1 for v in vals_ref if bin_of(v) == b) for b in bins}
    nc = {b: sum(1 for v in vals_cur if bin_of(v) == b) for b in bins}
    expect = sum(
        floor(
            (
                (nc[b] + 1) / (len(vals_cur) + 20)
                - (nr[b] + 1) / (len(vals_ref) + 20)
            )
            * log(
                ((nc[b] + 1) / (len(vals_cur) + 20))
                / ((nr[b] + 1) / (len(vals_ref) + 20))
            )
            * 10000
        )
        for b in bins
    )
    assert got.psi_e4 == expect
    assert got.n_ref == len(vals_ref) and got.n_cur == len(vals_cur)


def test_psi_shifted_distribution_positive(spark):
    """A hard distribution shift scores a large positive PSI."""
    from bioeco_portal_etl_spark.operators.drift import psi_drift

    rows = [("k", 10.0, False)] * 50 + [("k", 400.0, True)] * 50
    df = spark.createDataFrame(rows, "k string, value double, cur boolean")
    r = psi_drift(df, "k", "value", "cur").collect()[0]
    assert r.psi_e4 > 25000  # PSI > 2.5 — way past the 0.25 action bar


# ---------------------------------------------------------------------------
# stream-static enrichment (batch face of the unified join)
# ---------------------------------------------------------------------------


def test_static_enrich_left_keeps_unmatched(spark):
    from bioeco_portal_etl_spark.streaming.joins import static_enrich

    facts = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (99, 5.0)], "user_id long, value double"
    )
    dim = spark.createDataFrame(
        [(1, "GOLD"), (2, "IRON")], "user_id long, segment string"
    )
    got = {
        r.user_id: r.segment
        for r in static_enrich(facts, dim, "user_id").collect()
    }
    assert got == {1: "GOLD", 2: "IRON", 99: None}


def test_static_enrich_broadcasts(spark):
    from bioeco_portal_etl_spark.streaming.joins import static_enrich

    facts = spark.range(100).withColumnRenamed("id", "user_id")
    dim = spark.createDataFrame([(1, "GOLD")], "user_id long, segment string")
    plan = (
        static_enrich(facts, dim, "user_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


# ---------------------------------------------------------------------------
# SQ8 scalar quantization
# ---------------------------------------------------------------------------


def test_sq8_codes_bounded_and_symmetric(spark):
    """Signed codes live in [-127, 127]; the global-abs-max element
    encodes exactly +/-127; codes are proportional to the normalized
    values (single scale, no per-dim affine shift)."""
    from bioeco_portal_etl_spark.similarity.sq import (
        l2_normalize,
        sq_encode,
        sq_scale,
    )

    vecs = [
        (1, [3.0] + [0.0] * 63),          # unit vector along dim 0
        (2, [-4.0] + [0.0] * 63),         # unit vector along -dim 0
        (3, [1.0, 1.0] + [0.0] * 62),     # 45 degrees: 1/sqrt(2) per dim
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    nd = l2_normalize(df, "embedding", "vec_id")
    codes = {
        r.vec_id: r.code
        for r in sq_encode(nd, "embedding", sq_scale(nd, "embedding")).collect()
    }
    assert codes[1][0] == 127 and codes[2][0] == -127
    # 1/sqrt(2) of the abs-max (1.0) -> floor(0.7071 * 127) = 89
    assert codes[3][0] == codes[3][1] == 89
    assert all(-127 <= c <= 127 for v in codes.values() for c in v)


def test_sq8_topk_matches_python_reference(spark):
    """Integer-dot ranking over symmetric codes agrees with a pure-Python
    recompute of the same normalize+quantize+dot pipeline."""
    from math import floor, sqrt

    from bioeco_portal_etl_spark.similarity.sq import DIM, sq8_topk

    vecs = [
        (i, [((i * 7 + j * 3) % 97) / 96.0 for j in range(DIM)])
        for i in range(12)
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    q = df.filter("vec_id < 3")
    got = [
        (r.query_id, r.rank, r.match_id, r.score)
        for r in sq8_topk(df, q, "embedding", "vec_id", k=3)
        .orderBy("query_id", "rank")
        .collect()
    ]

    def normed(v):
        n = sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    nv = {i: normed(v) for i, v in vecs}
    amax = max(abs(x) for v in nv.values() for x in v)
    codes = {i: [floor(x / amax * 127) for x in v] for i, v in nv.items()}
    expect = []
    for qi in range(3):
        scored = sorted(
            (
                (-sum(a * b for a, b in zip(codes[qi], codes[ci])), ci)
                for ci in codes
                if ci != qi
            ),
        )[:3]
        expect += [
            (qi, rk + 1, ci, -neg) for rk, (neg, ci) in enumerate(scored)
        ]
    assert got == expect


def test_sq8_recall_vs_exact_is_high(spark):
    """Quantization sanity on the real embeddings table: SQ8 top-5 keeps
    most of the exact cosine top-5 (this corpus: recall@5 >= 0.6 — SQ8
    ranks by unnormalized integer dot, so some churn is expected; the
    gate entry pins the exact values, this pins the QUALITY floor)."""
    from bioeco_portal_etl_spark.similarity.knn import cosine_topk
    from bioeco_portal_etl_spark.similarity.sq import sq8_topk
    from bioeco_portal_etl_spark.sources.files import read_parquet_table

    import pyspark.sql.functions as F

    e = read_parquet_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.match_id)
        for r in cosine_topk(e, q, "embedding", "vec_id", k=5).collect()
    }
    approx = {
        (r.query_id, r.match_id)
        for r in sq8_topk(e, q, "embedding", "vec_id", k=5).collect()
    }
    assert len(exact & approx) / len(exact) >= 0.6


def test_wav_quarantine_routes_bad_payloads(spark):
    """A corrupt container costs one row, not the job: good clips keep
    exact stats, bad payloads land as (decode_ok=0, decode_err) with NULL
    stats; raise-mode still fails fast on the same input."""
    import pytest

    from bioeco_portal_etl_spark.multimodal.media import wav_clip_stats
    from bioeco_portal_etl_spark.multimodal.wavpcm import encode_wav

    good = encode_wav([100, -100, 50])
    rows = [
        (1, good),
        (2, b"NOT A RIFF CONTAINER AT ALL"),
        (3, good[:10]),  # truncated header
        (4, good[:-2]),  # intact header, data chunk one sample short
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")

    got = {
        r.media_id: r
        for r in wav_clip_stats(df, on_error="quarantine").collect()
    }
    assert got[1].decode_ok == 1 and got[1].n_samples == 3
    assert got[1].energy == 100 * 100 + 100 * 100 + 50 * 50
    for bad in (2, 3, 4):
        assert got[bad].decode_ok == 0
        assert got[bad].decode_err and got[bad].n_samples is None
    assert "truncated data chunk" in got[4].decode_err
    # default mode fails the task (deterministic-gate posture)
    with pytest.raises(Exception):
        wav_clip_stats(df).collect()


def test_png_quarantine_routes_bad_payloads(spark):
    from bioeco_portal_etl_spark.multimodal.media import png_channel_stats
    from bioeco_portal_etl_spark.multimodal.png import encode_png

    good = encode_png([[10, 20, 30, 40, 50, 60]], channels=3)  # 2x1 RGB
    df = spark.createDataFrame(
        [(1, good), (2, b"\x89PNG but not really")],
        "media_id long, payload binary",
    )
    got = png_channel_stats(df, on_error="quarantine").collect()
    ok_rows = [r for r in got if r.media_id == 1]
    bad_rows = [r for r in got if r.media_id == 2]
    assert len(ok_rows) == 3 and all(r.decode_ok == 1 for r in ok_rows)
    assert {r.channel: (r.min_v, r.max_v) for r in ok_rows} == {
        0: (10, 40), 1: (20, 50), 2: (30, 60),
    }
    assert len(bad_rows) == 1 and bad_rows[0].decode_ok == 0
    assert bad_rows[0].channel is None and bad_rows[0].decode_err


# ---------------------------------------------------------------------------
# k-anonymity
# ---------------------------------------------------------------------------


def test_k_anonymity_audit_and_suppression(spark):
    from bioeco_portal_etl_spark.operators.anonymity import k_anonymity_audit

    rows = (
        [("US", "A", 1)] * 5      # safe group (size 5 at k=5)
        + [("US", "B", 1)] * 2    # risky
        + [("DE", "A", 2)] * 1    # risky
        + [("DE", "B", 2)] * 7    # safe
    )
    df = spark.createDataFrame(rows, "nation string, seg string, b long")
    audit = {
        r.nation: r
        for r in k_anonymity_audit(df, ["nation", "seg", "b"], k=5).collect()
    }
    us, de = audit["US"], audit["DE"]
    assert (us.n_records, us.n_groups, us.n_risky_groups,
            us.n_risky_records, us.min_group_size) == (7, 2, 1, 2, 2)
    assert (de.n_records, de.n_groups, de.n_risky_groups,
            de.n_risky_records, de.min_group_size) == (8, 2, 1, 1, 1)
