"""Behavioral invariants for the second round-6 operator batch
(independent local recomputes, per the landing discipline)."""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
import pytest

from naive_query_engine_spark.queries import QUERIES

from .conftest import SF_SMOKE


# ---------------------------------------------------------------------------
# dedup_segment_exact: pandas recompute of the CCNet segment-dedup report


def test_segment_dedup_matches_pandas(spark):
    from naive_query_engine_spark.operators.dedup import SEGMENT_WORDS

    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")[
        ["doc_id", "source", "text"]
    ]
    seg_docs: dict[str, set[int]] = {}
    per_doc: list[tuple[int, str, list[str]]] = []
    for doc_id, source, text in docs.itertuples(index=False):
        w = text.split(" ")
        segs = [
            " ".join(w[i * SEGMENT_WORDS : (i + 1) * SEGMENT_WORDS])
            for i in range(len(w) // SEGMENT_WORDS)
        ]
        per_doc.append((doc_id, source, segs))
        for s in set(segs):
            seg_docs.setdefault(s, set()).add(doc_id)
    rows: dict[str, list[int]] = {}
    for doc_id, source, segs in per_doc:
        if not segs:
            continue
        dup = sum(1 for s in segs if len(seg_docs[s]) >= 2)
        r = rows.setdefault(source, [0, 0, 0])
        r[0] += 1
        r[1] += len(segs)
        r[2] += dup
    got = {
        r["source"]: r
        for r in (
            QUERIES["dedup_segment_exact"]
            .fn(spark, SF_SMOKE)
            .collect()
        )
    }
    assert set(got) == set(rows)
    for src, (n_docs, tot, dup) in rows.items():
        g = got[src]
        assert (g["n_docs"], g["total_segments"], g["dup_segments"]) == (
            n_docs,
            tot,
            dup,
        ), src
        assert g["dup_ppm"] == (1_000_000 * dup) // tot, src


# ---------------------------------------------------------------------------
# pipeline_cdc_merge: pandas recompute of the latest-wins classification


def test_cdc_merge_matches_pandas(spark):
    from naive_query_engine_spark.operators.pipeline import CDC_BATCH_DAYS

    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    ev["ts"] = pd.to_datetime(ev["ts"])
    cutoff = ev["ts"].max() - pd.Timedelta(days=CDC_BATCH_DAYS)
    order = ev.sort_values(["ts", "event_id"], ascending=False)
    snap = (
        order[order["ts"] < cutoff]
        .groupby(["user_id", "event_type"], as_index=False)
        .first()
    )
    batch_all = order[order["ts"] >= cutoff]
    batch = batch_all.groupby(["user_id", "event_type"], as_index=False).first()
    counts = (
        batch_all.groupby(["user_id", "event_type"]).size().rename("n_rows")
    )
    batch = batch.merge(counts, on=["user_id", "event_type"])
    m = snap.merge(
        batch,
        on=["user_id", "event_type"],
        how="outer",
        suffixes=("_s", "_b"),
        indicator=True,
    )

    def classify(r):
        if r["_merge"] == "right_only":
            return "insert"
        if r["_merge"] == "left_only":
            return "untouched"
        return (
            "update_identical"
            if r["value_b"] == r["value_s"]
            else "update_changed"
        )

    m["change_type"] = m.apply(classify, axis=1)
    exp = (
        m.groupby("change_type")
        .agg(
            n_keys=("change_type", "size"),
            n_users=("user_id", "nunique"),
            batch_rows=("n_rows", lambda s: int(s.fillna(0).sum())),
        )
        .reset_index()
    )
    got = (
        QUERIES["pipeline_cdc_merge"].fn(spark, SF_SMOKE).toPandas()
    )
    exp = exp.sort_values("change_type").reset_index(drop=True)
    got = got.sort_values("change_type").reset_index(drop=True)
    assert list(got["change_type"]) == list(exp["change_type"])
    assert list(got["n_keys"]) == list(exp["n_keys"])
    assert list(got["n_users"]) == list(exp["n_users"])
    assert list(got["batch_rows"]) == list(exp["batch_rows"])


# ---------------------------------------------------------------------------
# embedding_int8_quantization_error: numpy recompute of the SQ8 round-trip


def test_sq8_error_matches_numpy(spark):
    emb = pd.read_parquet(f"{SF_SMOKE}/embeddings.parquet")
    v = np.floor(
        np.stack(emb["embedding"].to_numpy()).astype(np.float64) * 1_000_000
    ).astype(np.int64)
    mn, mx = v.min(axis=0), v.max(axis=0)
    r = mx - mn
    safe = np.where(r > 0, r, 1)
    c = np.where(r > 0, ((v - mn) * 255) // safe, 0)
    rec = mn + np.where(r > 0, (c * r) // 255, 0)
    ae = np.abs(v - rec)
    labels = emb["label"].to_numpy()
    got = (
        QUERIES["embedding_int8_quantization_error"]
        .fn(spark, SF_SMOKE)
        .toPandas()
        .set_index("label")
    )
    for lab in np.unique(labels):
        sel = ae[labels == lab]
        g = got.loc[lab]
        assert g["n_components"] == sel.size
        assert g["sum_abs_err"] == int(sel.sum())
        assert g["max_abs_err"] == int(sel.max())
        assert abs(g["mean_abs_err"] - sel.sum() / sel.size) < 1e-12
    # the report must be non-vacuous: SQ8 on a 1e6 fixed-point domain
    # always loses precision somewhere
    assert int(ae.sum()) > 0


# ---------------------------------------------------------------------------
# multimodal_tiff_header_parse: kernel round-trip + adversarial rejects


def _tiff(le: bool, magic=42, w=640, h=480, pad=4, nxt=0, tags=(256, 257)):
    e = "<" if le else ">"
    bom = b"II" if le else b"MM"
    off = 8 + pad
    entries = b""
    vals = {256: w, 257: h}
    for tag in tags:
        entries += struct.pack(e + "HHI", tag, 3, 1) + struct.pack(
            e + "H", vals.get(tag, 1)
        ) + b"\x00\x00"
    ifd = struct.pack(e + "H", len(tags)) + entries + struct.pack(e + "I", nxt)
    return bom + struct.pack(e + "HI", magic, off) + b"\x00" * pad + ifd


def test_tiff_kernel_round_trip_and_rejects():
    from naive_query_engine_spark.operators.multimodal import tiff_meta_kernel

    cases = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3, 4, 5, 6],
            "payload": [
                _tiff(le=True, w=123, h=456),
                _tiff(le=False, w=77, h=88, pad=0),
                _tiff(le=True, magic=43),            # wrong magic
                _tiff(le=True)[:-6],                 # truncated directory
                b"XX" + _tiff(le=True)[2:],          # unknown byte order
                _tiff(le=True, tags=(256,)),         # missing height tag
                _tiff(le=False, nxt=10_000),         # dangling next-IFD
            ],
        }
    )
    out = {
        r["doc_id"]: r
        for _, r in next(tiff_meta_kernel()([cases])).iterrows()
    }
    assert (
        out[0]["byte_order"],
        out[0]["width"],
        out[0]["height"],
        out[0]["is_valid_tiff"],
    ) == ("II", 123, 456, True)
    assert (
        out[1]["byte_order"],
        out[1]["width"],
        out[1]["height"],
        out[1]["is_valid_tiff"],
    ) == ("MM", 77, 88, True)
    for bad in (2, 3, 4, 5, 6):
        assert not out[bad]["is_valid_tiff"], bad


# ---------------------------------------------------------------------------
# events_late_arrival_audit: pandas recompute of jitter + watermark buckets


def test_late_arrival_matches_pandas(spark):
    import hashlib

    from naive_query_engine_spark.operators.events import JITTER_STEP_US

    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")[["event_id", "ts"]]
    ev["t_us"] = (
        pd.to_datetime(ev["ts"]).astype("datetime64[us]").astype("int64")
    )  # epoch micros, naive wall clock (parquet unit may be us or ns)
    ev["bucket3"] = ev["event_id"].map(
        lambda i: int(hashlib.md5(str(i).encode()).hexdigest()[:3], 16)
    )
    ev["a_us"] = ev["t_us"] + ev["bucket3"] * JITTER_STEP_US
    ev = ev.sort_values(["a_us", "event_id"]).reset_index(drop=True)
    # stay in int64: pandas shift() would coerce epoch-micros (~1.7e18)
    # to float64, which only resolves ~256 us at that magnitude
    cm = ev["t_us"].cummax().to_numpy()
    t = ev["t_us"].to_numpy()
    late_arr = np.maximum(cm[:-1] - t[1:], 0)  # exclusive prefix max diff
    late = pd.Series(np.concatenate(([np.int64(0)], late_arr)).astype("int64"))

    def bucket(us):
        if us == 0:
            return "a_on_time"
        if us <= 10_000_000:
            return "b_late_10s"
        if us <= 30_000_000:
            return "c_late_30s"
        if us <= 60_000_000:
            return "d_late_60s"
        if us <= 120_000_000:
            return "e_late_120s"
        return "f_late_over_120s"

    exp = (
        pd.DataFrame({"b": late.map(bucket), "late": late})
        .groupby("b")
        .agg(n=("late", "size"), mx=("late", "max"))
    )
    got = (
        QUERIES["events_late_arrival_audit"]
        .fn(spark, SF_SMOKE)
        .toPandas()
        .set_index("lateness_bucket")
    )
    assert set(got.index) == set(exp.index)
    for b in exp.index:
        assert got.loc[b, "n_events"] == exp.loc[b, "n"], b
        assert got.loc[b, "max_lateness_us"] == exp.loc[b, "mx"], b
    # the jitter must actually create disorder (non-vacuity)
    assert set(exp.index) != {"a_on_time"}


# ---------------------------------------------------------------------------
# orders_scd2_priority_history: pandas recompute of version intervals


def test_scd2_matches_pandas(spark):
    o = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")[
        ["o_custkey", "o_orderpriority", "o_orderdate", "o_orderkey"]
    ].sort_values(["o_custkey", "o_orderdate", "o_orderkey"])
    versions = []  # (prio, start, end-or-None)
    for _, grp in o.groupby("o_custkey"):
        cur_prio, cur_start = None, None
        for _, r in grp.iterrows():
            if r["o_orderpriority"] != cur_prio:
                if cur_prio is not None:
                    versions.append((cur_prio, cur_start, r["o_orderdate"]))
                cur_prio, cur_start = r["o_orderpriority"], r["o_orderdate"]
        versions.append((cur_prio, cur_start, None))
    vdf = pd.DataFrame(versions, columns=["prio", "start", "end"])
    vdf["days"] = (
        pd.to_datetime(vdf["end"]).dt.normalize()
        - pd.to_datetime(vdf["start"]).dt.normalize()
    ).dt.days
    got = (
        QUERIES["orders_scd2_priority_history"]
        .fn(spark, SF_SMOKE)
        .toPandas()
        .set_index("priority")
    )
    for prio, grp in vdf.groupby("prio"):
        closed = grp[grp["end"].notna()]
        g = got.loc[prio]
        assert g["n_versions"] == len(grp), prio
        assert g["n_current"] == int(grp["end"].isna().sum()), prio
        assert g["closed_days"] == int(closed["days"].sum()), prio
    # versions must actually churn (non-vacuity): more versions than customers
    assert int(got["n_versions"].sum()) > int(got["n_current"].sum())


# ---------------------------------------------------------------------------
# multimodal_pcm_frame_energy: kernel unit + truncation robustness


def test_pcm_kernel_energy_and_truncation():
    from naive_query_engine_spark.operators.multimodal import pcm_energy_kernel

    s = np.array([3, -4, 5, 32767, -32768], dtype="<i2")
    payload = s.tobytes()
    cases = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "payload": [payload, payload + b"\xff", b""],  # exact, dangling, empty
        }
    )
    out = next(pcm_energy_kernel()([cases]))
    by_doc = {d: g for d, g in out.groupby("doc_id")}
    expect = int((s.astype(np.int64) ** 2).sum())
    for d in (0, 1):  # the dangling byte must be dropped, not fatal
        g = by_doc[d]
        assert len(g) == 1
        assert int(g["n_samples"].iloc[0]) == 5
        assert int(g["energy"].iloc[0]) == expect
    assert 2 not in by_doc  # empty payload -> no frames


# ---------------------------------------------------------------------------
# multimodal_image_phash_dedup: aHash invariance under sub-threshold noise


def test_ahash_invariant_under_noise_and_sensitive_to_pattern():
    from naive_query_engine_spark.operators.multimodal import ahash_kernel

    rng_bits = [(131 * g + 17 * i) % 256 >= 128 for g in (0, 1) for i in range(64)]
    base0 = np.where(np.array(rng_bits[:64]), 224, 32).astype(np.uint8)
    base1 = np.where(np.array(rng_bits[64:]), 224, 32).astype(np.uint8)
    noisy0 = base0.copy()
    noisy0[::16] += 8  # sparse +8 noise, never crosses the mean
    cases = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "payload": [
                base0.tobytes(),
                noisy0.tobytes(),
                base1.tobytes(),
                base0.tobytes()[:-1],  # truncated: not hashable
            ],
        }
    )
    out = next(ahash_kernel()([cases])).set_index("doc_id")
    assert out.loc[0, "phash"] == out.loc[1, "phash"]  # noise-invariant
    assert out.loc[0, "phash"] != out.loc[2, "phash"]  # pattern-sensitive
    assert 3 not in out.index  # malformed rejected


# ---------------------------------------------------------------------------
# embedding_matryoshka_prefix_recall: numpy recompute of the truncation curve


def test_matryoshka_prefix_recall_matches_numpy(spark):
    from naive_query_engine_spark.operators.similarity import (
        MRL_PREFIXES,
        N_QUERY_VECS,
        QUANT,
        TOP_K,
    )

    emb = pd.read_parquet(f"{SF_SMOKE}/embeddings.parquet").sort_values("vec_id")
    vec_ids = emb["vec_id"].to_numpy()
    mat = np.floor(
        np.stack(emb["embedding"].to_numpy()).astype(np.float64) * QUANT
    ).astype(np.int64)

    def topk(d: int) -> set[tuple[int, int]]:
        pref = mat[:, :d]
        out: set[tuple[int, int]] = set()
        for qpos in np.where(vec_ids < N_QUERY_VECS)[0]:
            qid = int(vec_ids[qpos])
            dots = pref @ pref[qpos]  # exact int64, same as dot_q
            cos = dots.astype(np.float64) / (
                np.sqrt(float(pref[qpos] @ pref[qpos]))
                * np.sqrt((pref * pref).sum(axis=1).astype(np.float64))
            )
            mask = vec_ids != qid
            order = np.lexsort((vec_ids[mask], -cos[mask]))
            for npos in order[:TOP_K]:
                out.add((qid, int(vec_ids[mask][npos])))
        return out

    full = topk(64)
    got = {
        r["prefix_dims"]: r
        for r in QUERIES["embedding_matryoshka_prefix_recall"]
        .fn(spark, SF_SMOKE)
        .collect()
    }
    assert set(got) == set(MRL_PREFIXES)
    for d in MRL_PREFIXES:
        want = topk(d)
        matched = len(want & full)
        g = got[d]
        assert (g["matched"], g["total"]) == (matched, len(full))
        assert g["recall"] == matched / len(full)
    # identity control: the 64-dim ranking against itself is exact
    assert got[64]["recall"] == 1.0


# ---------------------------------------------------------------------------
# dataset_dsir_importance_weights: pure-Python recompute of the DSIR report


def test_dsir_importance_weights_matches_python(spark):
    import hashlib
    import math
    import re

    from naive_query_engine_spark.operators.quality import (
        DSIR_BUCKETS,
        DSIR_FP,
        DSIR_TARGET_LANG,
        DSIR_TOP_DOCS,
    )

    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")[
        ["doc_id", "lang", "text"]
    ]
    rcnt: dict[int, int] = {}
    tcnt: dict[int, int] = {}
    doc_feats: list[tuple[int, str, list[int]]] = []
    r_total = t_total = 0
    for doc_id, lang, text in docs.itertuples(index=False):
        tk = re.split(r"[ \t\n\r\f]+", text.strip().lower())
        feats = tk + [f"{a} {b}" for a, b in zip(tk, tk[1:])]
        bks = [
            int(hashlib.md5(f.encode()).hexdigest()[:2], 16) for f in feats
        ]
        doc_feats.append((doc_id, lang, bks))
        for bk in bks:
            rcnt[bk] = rcnt.get(bk, 0) + 1
            r_total += 1
            if lang == DSIR_TARGET_LANG:
                tcnt[bk] = tcnt.get(bk, 0) + 1
                t_total += 1
    B = DSIR_BUCKETS

    def half_up(x: float) -> int:
        return int(math.floor(x + 0.5)) if x >= 0 else -int(math.floor(-x + 0.5))

    wfp = {
        bk: half_up(
            math.log10(
                (float(tcnt.get(bk, 0) + 1) * (r_total + B))
                / (float(rc + 1) * (t_total + B))
            )
            * DSIR_FP
        )
        for bk, rc in rcnt.items()
    }
    docw = [
        (doc_id, lang, sum(wfp[bk] for bk in bks))
        for doc_id, lang, bks in doc_feats
    ]
    top = sorted(docw, key=lambda r: (-r[2], r[0]))[:DSIR_TOP_DOCS]
    want: dict[str, list[int]] = {}
    for _, lang, w in docw:
        r = want.setdefault(lang, [0, 0, 0])
        r[0] += 1
        r[1] += w
    for _, lang, _ in top:
        want[lang][2] += 1
    got = {
        r["lang"]: r
        for r in QUERIES["dataset_dsir_importance_weights"]
        .fn(spark, SF_SMOKE)
        .collect()
    }
    assert set(got) == set(want)
    for lang, (n, s, ntop) in want.items():
        g = got[lang]
        assert (g["n_docs"], g["sum_weight_fp"], g[f"n_top{DSIR_TOP_DOCS}"]) == (
            n, s, ntop,
        )
        assert g["avg_weight_fp"] == s / n
    # the sampler must pull toward the target slice
    assert got[DSIR_TARGET_LANG]["avg_weight_fp"] == max(
        g["avg_weight_fp"] for g in got.values()
    )


# ---------------------------------------------------------------------------
# multimodal_audio_vad_segments: kernel segmentation on hand-built payloads


def test_vad_kernel_segments_known_patterns():
    from naive_query_engine_spark.operators.multimodal import (
        vad_segments_kernel,
    )

    loud = (np.arange(256, dtype=np.int64) * 13 % 65536 - 32768).astype("<i2")
    quiet = (np.arange(256) % 256 - 128).astype("<i2")

    def pcm(*frames):
        return np.concatenate(frames).astype("<i2").tobytes()

    cases = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3, 4],
            "payload": [
                pcm(loud, quiet, loud, loud),   # speech-gap-speech: 2 segs
                pcm(quiet, quiet, quiet),        # all silence
                pcm(loud, loud),                 # all speech, one segment
                pcm(quiet, loud[:100]),          # partial loud tail frame
                b"\x01",                         # 1 byte: no full sample
            ],
        }
    )
    out = next(vad_segments_kernel()([cases])).set_index("doc_id")
    assert tuple(out.loc[0]) == (4, 3, 2, 2, 750000)
    assert tuple(out.loc[1]) == (3, 0, 0, 0, 0)
    assert tuple(out.loc[2]) == (2, 2, 1, 2, 1000000)
    # the 100-sample loud tail: energy = sum over the first 100 step-13
    # samples — large enough to pass the 1e8 threshold
    assert tuple(out.loc[3]) == (2, 1, 1, 1, 500000)
    assert 4 not in out.index  # empty decode rejected, not divide-by-zero


def test_pixel_synth_matches_jvm(spark):
    """r13: the phash/resize queries synthesize pixels in the kernel
    (_synth_pixels) instead of the JVM-expression builders.  Pin BYTE
    equality of both builder pairs over doc_ids spanning groups, noise
    positions (i+doc_id % 16) and all five flip counts."""
    from pyspark.sql import functions as F

    from naive_query_engine_spark.operators.multimodal import (
        _synth_pixels,
        make_flipped_pixel_payload,
        make_pixel_payload,
    )

    ids = [0, 1, 2, 3, 4, 7, 15, 16, 63, 64, 1023]
    grid = spark.createDataFrame([(d,) for d in ids], "doc_id long")
    jvm_plain = {
        r["doc_id"]: bytes(r["p"])
        for r in grid.select(
            "doc_id", make_pixel_payload(F.col("doc_id")).alias("p")
        ).collect()
    }
    jvm_flip = {
        r["doc_id"]: bytes(r["p"])
        for r in grid.select(
            "doc_id", make_flipped_pixel_payload(F.col("doc_id")).alias("p")
        ).collect()
    }
    plain, flip = _synth_pixels(flipped=False), _synth_pixels(flipped=True)
    for d in ids:
        assert plain(d) == jvm_plain[d], f"plain pixels diverge at doc {d}"
        assert flip(d) == jvm_flip[d], f"flipped pixels diverge at doc {d}"


def test_vad_synth_matches_jvm_payload(spark):
    """r13: the registered query synthesizes its waveform in numpy
    (vad_synth_segments_kernel) instead of the JVM-expression builder.
    Pin BYTE equality of the two payload builders over a doc_id/n grid
    spanning both loud/quiet phases and odd lengths, and pin that the
    synth kernel's stats equal the byte kernel's on those payloads."""
    from pyspark.sql import functions as F

    from naive_query_engine_spark.operators.multimodal import (
        make_vad_payload,
        vad_segments_kernel,
        vad_synth_segments_kernel,
    )

    ids = [0, 1, 2, 7, 1023, 1024, 65535]
    ns = [1, 255, 256, 767, 768, 769, 1024]
    grid = spark.createDataFrame(
        [(d, n) for d, n in zip(ids, ns)], "doc_id long, n long"
    )
    jvm = {
        r["doc_id"]: bytes(r["payload"])
        for r in grid.select(
            "doc_id", make_vad_payload(F.col("doc_id"), F.col("n")).alias("payload")
        ).collect()
    }

    def synth(doc_id, n):
        i = np.arange(n, dtype=np.int64)
        loud = ((i // 768) + doc_id) % 2 == 1
        raw = doc_id * 7 + i * 13
        s16 = np.where(loud, raw % 65536 - 32768, raw % 256 - 128)
        return (s16 % 65536).astype("<u2").tobytes()

    for d, n in zip(ids, ns):
        assert synth(d, n) == jvm[d], f"payload bytes diverge at doc {d}"

    sizes = pd.DataFrame({"doc_id": ids, "n": ns})
    payloads = pd.DataFrame(
        {"doc_id": ids, "payload": [jvm[d] for d in ids]}
    )
    via_synth = next(vad_synth_segments_kernel()([sizes]))
    via_bytes = next(vad_segments_kernel()([payloads]))
    pd.testing.assert_frame_equal(via_synth, via_bytes)


# ---------------------------------------------------------------------------
# dataset_split_neardup_leakage: audit recomputed from the edge frame


def test_split_neardup_leakage_matches_recompute(spark):
    import hashlib

    from naive_query_engine_spark.operators.clustering import near_dup_edges
    from naive_query_engine_spark.operators.quality import TRAIN_BUCKETS

    def split(doc_id: int) -> str:
        b = int(hashlib.md5(str(doc_id).encode()).hexdigest()[0], 16)
        return "train" if b < TRAIN_BUCKETS else "test"

    edges = [(r["a"], r["b"]) for r in near_dup_edges(spark, SF_SMOKE).collect()]
    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")["doc_id"]
    n_cross = sum(1 for a, b in edges if split(a) != split(b))
    contaminated = {
        (a if split(a) == "test" else b)
        for a, b in edges
        if split(a) != split(b)
    }
    n_test = sum(1 for d in docs if split(int(d)) == "test")
    row = (
        QUERIES["dataset_split_neardup_leakage"].fn(spark, SF_SMOKE).collect()[0]
    )
    assert row["n_edges"] == len(edges)
    assert row["n_cross_edges"] == n_cross
    assert row["cross_edge_ppm"] == (1_000_000 * n_cross) // len(edges)
    assert row["n_test_docs"] == n_test
    assert row["n_contaminated_test_docs"] == len(contaminated)
    assert row["contamination_ppm"] == (1_000_000 * len(contaminated)) // n_test
    assert n_cross > 0  # the audit must be non-vacuous on this corpus


# ---------------------------------------------------------------------------
# embedding_cluster_balanced_sample: hash-rank pick recomputed per cluster


def test_cluster_balanced_sample_matches_recompute(spark):
    import hashlib

    from pyspark.sql import functions as F

    from naive_query_engine_spark.operators.kmeans import (
        BALANCED_PER_CLUSTER,
        lloyd_kmeans,
    )
    from naive_query_engine_spark.operators.similarity import quantized
    from naive_query_engine_spark.queries import t

    e = t(spark, SF_SMOKE, "embeddings")
    qf = e.select("vec_id", quantized(F.col("embedding")).alias("q"))
    members: dict[int, list[int]] = {}
    for r in lloyd_kmeans(qf).select("cluster", "vec_id").collect():
        members.setdefault(r["cluster"], []).append(r["vec_id"])
    want = {}
    for c, vids in members.items():
        picked = sorted(
            vids, key=lambda v: (hashlib.md5(str(v).encode()).hexdigest(), v)
        )[:BALANCED_PER_CLUSTER]
        want[c] = picked
    got: dict[int, list[int]] = {}
    for r in (
        QUERIES["embedding_cluster_balanced_sample"].fn(spark, SF_SMOKE).collect()
    ):
        got.setdefault(r["cluster"], []).append((r["pick_rank"], r["vec_id"]))
    assert set(got) == set(want)
    for c, picked in want.items():
        ranked = [v for _, v in sorted(got[c])]
        assert ranked == picked
        assert len(ranked) == min(len(members[c]), BALANCED_PER_CLUSTER)


# ---------------------------------------------------------------------------
# events_ab_srm_check: chi-square recompute + control-row semantics


def test_srm_check_matches_recompute(spark):
    import hashlib
    import math

    from naive_query_engine_spark.operators.analytics import (
        SRM_BUG_MOD,
        SRM_CRIT_FP,
        SRM_FP,
    )

    users = (
        pd.read_parquet(f"{SF_SMOKE}/events.parquet")["user_id"]
        .drop_duplicates()
        .astype(int)
    )
    def arm(u: int) -> str:
        return "A" if int(hashlib.md5(str(u).encode()).hexdigest()[0], 16) % 2 == 0 else "B"

    n_a = sum(1 for u in users if arm(u) == "A")
    n_b = sum(1 for u in users if arm(u) == "B")
    n_b_bug = sum(1 for u in users if arm(u) == "B" and u % SRM_BUG_MOD != 0)

    def chi2_fp(a: int, b: int) -> int:
        x = float(a - b) * (a - b) / (a + b) * SRM_FP
        return int(math.floor(x + 0.5))

    got = {
        r["scenario"]: r
        for r in QUERIES["events_ab_srm_check"].fn(spark, SF_SMOKE).collect()
    }
    clean, bug = got["a_clean"], got["b_exposure_bug"]
    assert (clean["n_a"], clean["n_b"]) == (n_a, n_b)
    assert (bug["n_a"], bug["n_b"]) == (n_a, n_b_bug)
    assert clean["chi2_fp"] == chi2_fp(n_a, n_b)
    assert bug["chi2_fp"] == chi2_fp(n_a, n_b_bug)
    assert clean["srm_flag"] == int(chi2_fp(n_a, n_b) > SRM_CRIT_FP)
    assert bug["srm_flag"] == int(chi2_fp(n_a, n_b_bug) > SRM_CRIT_FP)
    # the detector must detect: planted bug flags, clean split doesn't
    assert bug["srm_flag"] == 1 and clean["srm_flag"] == 0


# ---------------------------------------------------------------------------
# multimodal_http_response_parse: protocol semantics recomputed in Python


def test_http_parse_matches_recompute(spark):
    doc_ids = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")["doc_id"].astype(int)
    want: dict[tuple[str, str], list[int]] = {}
    for d in doc_ids:
        status = ["200", "200", "404", "301"][d % 4]
        ctype = ["text/html", "application/json", "text/plain"][d % 3]
        declared = d % 200 + 10
        actual = declared // 2 if d % 17 == 0 else declared
        if d % 23 == 0:
            verdict = "not_http"
        elif actual != declared:
            verdict = "truncated_body"
        else:
            verdict = f"ok_{status}"
        r = want.setdefault((verdict, ctype), [0, 0, 10**18])
        r[0] += 1
        r[1] += actual
        r[2] = min(r[2], d)
    got = {
        (r["verdict"], r["content_type"]): r
        for r in QUERIES["multimodal_http_response_parse"]
        .fn(spark, SF_SMOKE)
        .collect()
    }
    assert set(got) == set(want)
    for k, (n, total, mn) in want.items():
        g = got[k]
        assert (g["n_records"], g["total_body_bytes"], g["min_doc_id"]) == (
            n, total, mn,
        )
    # malformed records must be quarantined, not dropped or poisoning ok rows
    assert any(v == "not_http" for v, _ in got)
    assert any(v == "truncated_body" for v, _ in got)


# ---------------------------------------------------------------------------
# orders_snapshot_as_of: point-in-time state recomputed in pandas


def test_snapshot_as_of_matches_pandas(spark):
    from naive_query_engine_spark.operators.analytics import SNAPSHOT_AS_OF

    o = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")[
        ["o_custkey", "o_orderkey", "o_orderdate", "o_orderstatus",
         "o_orderpriority"]
    ]
    o = o[o["o_orderdate"] <= pd.Timestamp(SNAPSHOT_AS_OF)]
    latest = (
        o.sort_values(["o_orderdate", "o_orderkey"], ascending=False)
        .groupby("o_custkey", as_index=False)
        .first()
    )
    want = {}
    for _, r in latest.iterrows():
        k = (r["o_orderstatus"], r["o_orderpriority"])
        v = want.setdefault(k, [0, 10**18, pd.Timestamp.min])
        v[0] += 1
        v[1] = min(v[1], r["o_custkey"])
        v[2] = max(v[2], r["o_orderdate"])
    got = {
        (r["status"], r["priority"]): r
        for r in QUERIES["orders_snapshot_as_of"].fn(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(want)
    for k, (n, mn, mx) in want.items():
        g = got[k]
        assert (g["n_customers"], g["min_custkey"]) == (n, mn)
        assert g["latest_effective_date"] == mx.strftime("%Y-%m-%d")


# ---------------------------------------------------------------------------
# text_tokenizer_fertility: per-lang ratios recomputed in Python


def test_tokenizer_fertility_matches_recompute(spark):
    import re

    from naive_query_engine_spark.operators.text import TOKFERT_FP

    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")[["lang", "text"]]
    want: dict[str, list[int]] = {}
    bpe = re.compile(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r\f]")
    for lang, text in docs.itertuples(index=False):
        r = want.setdefault(lang, [0, 0, 0, 0])
        r[0] += 1
        r[1] += len(re.split(r"[ \t\n\r\f]+", text.strip().lower()))
        r[2] += len(bpe.findall(text))
        r[3] += len(text.encode("utf-8"))
    got = {
        r["lang"]: r
        for r in QUERIES["text_tokenizer_fertility"].fn(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(want)
    for lang, (n, words, toks, byts) in want.items():
        g = got[lang]
        assert (g["n_docs"], g["total_words"], g["total_tokens"], g["total_bytes"]) == (
            n, words, toks, byts,
        )
        assert g["fertility_fp"] == (toks * TOKFERT_FP) // words
        assert g["bytes_per_token_fp"] == (byts * TOKFERT_FP) // toks


# ---------------------------------------------------------------------------
# multimodal_phash_hamming_neardup: full numpy recompute of the census


def test_phash_hamming_census_matches_numpy(spark):
    from naive_query_engine_spark.operators.multimodal import (
        HAM_MAX,
        PHASH_GROUP,
        PHASH_PIXELS,
    )

    doc_ids = sorted(
        pd.read_parquet(f"{SF_SMOKE}/documents.parquet")["doc_id"].astype(int)
    )
    hashes = {}
    for d in doc_ids:
        g = d // PHASH_GROUP
        px = np.array(
            [
                224 if (g * 131 + i * 17) % 256 >= 128 else 32
                for i in range(PHASH_PIXELS)
            ],
            dtype=np.int64,
        )
        k = d % 5
        px[:k] = 256 - px[:k]
        mean = px.sum() // PHASH_PIXELS
        hashes[d] = (px > mean).astype(np.int64)
    want: dict[int, list[int]] = {}
    ids = list(hashes)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            dist = int((hashes[a] != hashes[b]).sum())
            if dist <= HAM_MAX:
                r = want.setdefault(dist, [0, 0, 10**18])
                r[0] += 1
                r[1] += int(a // PHASH_GROUP == b // PHASH_GROUP)
                r[2] = min(r[2], a)
    got = {
        r["hamming_dist"]: r
        for r in QUERIES["multimodal_phash_hamming_neardup"]
        .fn(spark, SF_SMOKE)
        .collect()
    }
    assert set(got) == set(want)
    for dist, (n, sg, mn) in want.items():
        g = got[dist]
        assert (g["n_pairs"], g["n_same_group"], g["min_doc_a"]) == (n, sg, mn)
    # analytic structure: 4 consecutive ids -> 4 distinct k mod 5, so no
    # same-group pair at distance 0; same-group pairs exist at 1 and 2
    assert got[0]["n_same_group"] == 0 if 0 in got else True
    assert got[1]["n_same_group"] > 0 and got[2]["n_same_group"] > 0


# ---------------------------------------------------------------------------
# dedup_cross_source_overlap: source-pair Jaccard recomputed in Python


def _check_cross_source_overlap(spark, sf_dir: str) -> None:
    import re

    from naive_query_engine_spark.operators.dedup import OVERLAP_FP
    from naive_query_engine_spark.operators.shingles_sql import MAX_SHINGLE_DF

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")[
        ["doc_id", "source", "text"]
    ]
    doc_sh: list[tuple[str, set[str]]] = []
    df_count: dict[str, int] = {}
    for _, source, text in docs.itertuples(index=False):
        w = re.split(r"[ \t\n\r\f]+", text.strip().lower())
        sh = {" ".join(w[i : i + 3]) for i in range(len(w) - 2)} if len(w) >= 3 else set()
        doc_sh.append((source, sh))
        for g in sh:
            df_count[g] = df_count.get(g, 0) + 1
    src_sh: dict[str, set[str]] = {}
    for source, sh in doc_sh:
        keep = {g for g in sh if df_count[g] <= MAX_SHINGLE_DF}
        src_sh.setdefault(source, set()).update(keep)
    got = {
        (r["source_a"], r["source_b"]): r
        for r in QUERIES["dedup_cross_source_overlap"].fn(spark, sf_dir).collect()
    }
    srcs = sorted(src_sh)
    want_pairs = 0
    for i, sa in enumerate(srcs):
        for sb in srcs[i + 1 :]:
            shared = len(src_sh[sa] & src_sh[sb])
            if shared == 0:
                assert (sa, sb) not in got
                continue
            want_pairs += 1
            union = len(src_sh[sa] | src_sh[sb])
            g = got[(sa, sb)]
            assert (g["shared_shingles"], g["union_shingles"]) == (shared, union)
            assert g["jaccard_fp"] == (shared * OVERLAP_FP) // union
    assert want_pairs == len(got)


def test_cross_source_overlap_matches_recompute(spark):
    _check_cross_source_overlap(spark, SF_SMOKE)


def _relabel_sources(tmp_path, n_sources: int) -> str:
    """The smoke corpus's documents with ``n_sources`` source labels."""
    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    docs["source"] = [f"src{i % n_sources:03d}" for i in docs["doc_id"]]
    docs.to_parquet(tmp_path / "documents.parquet", index=False)
    return str(tmp_path)


def test_cross_source_overlap_uses_all_64_mask_bits(spark, tmp_path):
    """64 sources fill the LONG mask, bit 63 included, and stay exact."""
    _check_cross_source_overlap(spark, _relabel_sources(tmp_path, 64))


def test_cross_source_overlap_rejects_65_sources(spark, tmp_path):
    """A 65th source has no mask bit (shiftleft wraps it onto source 1),
    so the query fails instead of merging the two sources' vocabularies."""
    sf_dir = _relabel_sources(tmp_path, 65)
    with pytest.raises(Exception, match="65 sources exceed the 64-bit source mask"):
        QUERIES["dedup_cross_source_overlap"].fn(spark, sf_dir).collect()


# ---------------------------------------------------------------------------
# graph_label_modularity: Newman Q recomputed from the edge frame


def test_label_modularity_matches_recompute(spark):
    from naive_query_engine_spark.operators.clustering import MODULARITY_FP

    edges = [
        (r["vec_a"], r["vec_b"])
        for r in QUERIES["similarity_mutual_knn"].fn(spark, SF_SMOKE).collect()
    ]
    lab = (
        pd.read_parquet(f"{SF_SMOKE}/embeddings.parquet")
        .set_index("vec_id")["label"]
        .to_dict()
    )
    m = len(edges)
    intra = sum(1 for a, b in edges if lab[a] == lab[b])
    deg: dict[str, int] = {}
    for a, b in edges:
        deg[lab[a]] = deg.get(lab[a], 0) + 1
        deg[lab[b]] = deg.get(lab[b], 0) + 1
    expected = sum((d * d * MODULARITY_FP) // (4 * m * m) for d in deg.values())
    row = QUERIES["graph_label_modularity"].fn(spark, SF_SMOKE).collect()[0]
    assert (row["n_edges"], row["n_intra_label"]) == (m, intra)
    assert row["intra_share_fp"] == (intra * MODULARITY_FP) // m
    assert row["expected_share_fp"] == expected
    assert row["modularity_fp"] == (intra * MODULARITY_FP) // m - expected
    # random embeddings: labels no better than chance (|Q| < 0.05)
    assert abs(row["modularity_fp"]) < MODULARITY_FP // 20


# ---------------------------------------------------------------------------
# similarity_ivf_nprobe_sweep: curve shape + point consistency


def test_nprobe_sweep_monotone_and_consistent(spark):
    from naive_query_engine_spark.operators.kmeans import (
        IVF_KM_NPROBE,
        IVF_SWEEP_NPROBES,
    )

    rows = {
        r["nprobe"]: r
        for r in QUERIES["similarity_ivf_nprobe_sweep"].fn(spark, SF_SMOKE).collect()
    }
    assert set(rows) == set(IVF_SWEEP_NPROBES)
    recalls = [rows[p]["recall"] for p in sorted(rows)]
    # more probes can never lose a true neighbor: monotone non-decreasing
    assert recalls == sorted(recalls)
    for p, r in rows.items():
        assert r["matched"] <= r["total"] and r["recall"] == r["matched"] / r["total"]
    # the sweep's point at the parent operator's nprobe must equal the
    # standalone recall gate (same machinery, same ranking)
    gate = QUERIES["similarity_kmeans_recall_at_k"].fn(spark, SF_SMOKE).collect()[0]
    assert rows[IVF_KM_NPROBE]["matched"] == gate["matched"]
    assert rows[IVF_KM_NPROBE]["recall"] == gate["recall_at_k"]


# ---------------------------------------------------------------------------
# dedup_tokens_saved_by_source: savings recomputed from components


def test_tokens_saved_matches_recompute(spark):
    import re

    from naive_query_engine_spark.operators.clustering import (
        connected_components,
        near_dup_edges,
    )
    from naive_query_engine_spark.queries import t as _t
    from pyspark.sql import functions as F

    d = _t(spark, SF_SMOKE, "documents")
    comp = {
        r["id"]: r["component"]
        for r in connected_components(
            d.select(F.col("doc_id").alias("id")),
            near_dup_edges(spark, SF_SMOKE),
        ).collect()
    }
    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")[
        ["doc_id", "source", "text"]
    ]
    want: dict[str, list[int]] = {}
    for doc_id, source, text in docs.itertuples(index=False):
        tk = len(re.split(r"[ \t\n\r\f]+", text.strip().lower()))
        kept = int(comp[doc_id] == doc_id)
        r = want.setdefault(source, [0, 0, 0, 0])
        r[0] += 1
        r[1] += kept
        r[2] += tk
        r[3] += kept * tk
    got = {
        r["source"]: r
        for r in QUERIES["dedup_tokens_saved_by_source"].fn(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(want)
    saved_any = False
    for source, (n, k, tt, tkept) in want.items():
        g = got[source]
        assert (g["n_docs"], g["n_kept"], g["tokens_total"], g["tokens_kept"]) == (
            n, k, tt, tkept,
        )
        assert g["tokens_saved_ppm"] == (1_000_000 * (tt - tkept)) // tt
        saved_any |= tt > tkept
    assert saved_any  # the corpus has real near-dup clusters to collapse


# ---------------------------------------------------------------------------
# audit_l_diversity: cells recomputed in pandas


def test_l_diversity_matches_pandas(spark):
    import math

    from naive_query_engine_spark.operators.quality import L_DIV, SENS_BAND

    c = pd.read_parquet(f"{SF_SMOKE}/customer.parquet")[
        ["c_mktsegment", "c_nationkey", "c_acctbal"]
    ]
    cells: dict[tuple, tuple[int, int]] = {}
    for (seg, nat), grp in c.groupby(["c_mktsegment", "c_nationkey"]):
        bands = {math.floor(float(b) / SENS_BAND) for b in grp["c_acctbal"]}
        cells[(seg, nat)] = (len(grp), len(bands))
    n_low = sum(1 for _, l in cells.values() if l < L_DIV)
    exposed = sum(n for n, l in cells.values() if l < L_DIV)
    total = sum(n for n, _ in cells.values())
    row = QUERIES["audit_l_diversity"].fn(spark, SF_SMOKE).collect()[0]
    assert row["n_cells"] == len(cells)
    assert row["min_l"] == min(l for _, l in cells.values())
    assert row["n_low_diversity_cells"] == n_low
    assert row["n_exposed_rows"] == exposed
    assert row["exposed_share"] == exposed / total


# ---------------------------------------------------------------------------
# embedding_intrinsic_dimension_twonn: all-pairs numpy recompute


def test_twonn_matches_numpy(spark):
    import math

    from naive_query_engine_spark.operators.similarity import QUANT, TWONN_FP

    emb = pd.read_parquet(f"{SF_SMOKE}/embeddings.parquet").sort_values("vec_id")
    ids = emb["vec_id"].to_numpy()
    mat = np.floor(
        np.stack(emb["embedding"].to_numpy()).astype(np.float64) * QUANT
    ).astype(np.int64)
    n2 = (mat * mat).sum(axis=1)
    terms = []
    n_excl = 0
    for i in range(len(ids)):
        d2 = n2[i] + n2 - 2 * (mat @ mat[i])
        mask = ids != ids[i]
        cand_ids, cand_d2 = ids[mask], d2[mask]
        order = np.lexsort((cand_ids, cand_d2))
        d1q, d2q = int(cand_d2[order[0]]), int(cand_d2[order[1]])
        if d1q <= 0:
            n_excl += 1
            continue
        x = 0.5 * math.log(d2q / d1q) * TWONN_FP
        terms.append(int(math.floor(x + 0.5)) if x >= 0 else -int(math.floor(-x + 0.5)))
    row = (
        QUERIES["embedding_intrinsic_dimension_twonn"].fn(spark, SF_SMOKE).collect()[0]
    )
    assert row["n_vectors"] == len(ids)
    assert row["n_used"] == len(terms) == len(ids) - n_excl
    assert row["sum_ln_fp"] == sum(terms)
    assert row["intrinsic_dim_fp"] == (len(terms) * TWONN_FP * TWONN_FP) // sum(terms)
    # random 64-dim vectors: the probe must NOT report a low-dim manifold
    assert row["intrinsic_dim_fp"] > 8 * TWONN_FP


# ---------------------------------------------------------------------------
# multimodal_image_resize: kernel box filter on hand-built payloads


def test_resize_kernel_box_filter():
    from naive_query_engine_spark.operators.multimodal import resize_kernel

    img = np.arange(64, dtype=np.uint8)  # 0..63 row-major
    cases = pd.DataFrame(
        {
            "doc_id": [0, 1],
            "payload": [img.tobytes(), img.tobytes()[:-1]],  # 1 malformed
        }
    )
    out = next(resize_kernel()([cases]))
    assert set(out["doc_id"]) == {0}  # malformed rejected
    got = out.set_index("rpos")["px"].to_dict()
    big = img.astype(int).reshape(8, 8)
    for r in range(4):
        for c in range(4):
            blk = big[2 * r : 2 * r + 2, 2 * c : 2 * c + 2]
            assert got[r * 4 + c] == blk.sum() // 4


# ---------------------------------------------------------------------------
# events_ab_mann_whitney: rank-sum recomputed in pure Python


def test_mann_whitney_matches_recompute(spark):
    import hashlib
    import math
    from decimal import Decimal

    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")[["user_id", "value"]]
    per_user: dict[int, Decimal] = {}
    for u, v in ev.itertuples(index=False):
        per_user[int(u)] = per_user.get(int(u), Decimal(0)) + Decimal(
            str(v)
        ).quantize(Decimal("0.01"))
    def arm(u: int) -> str:
        return "A" if int(hashlib.md5(str(u).encode()).hexdigest()[0], 16) % 2 == 0 else "B"
    rows = sorted(
        (int(m * 100), arm(u)) for u, m in per_user.items()
    )
    n = len(rows)
    n_b = sum(1 for _, a in rows if a == "B")
    n_a = n - n_b
    # double-ranks with average-rank ties
    r2_b = 0
    tie_t = 0
    i = 0
    while i < n:
        j = i
        while j < n and rows[j][0] == rows[i][0]:
            j += 1
        t = j - i
        dr2 = 2 * i + t + 1  # 2 * average rank (1-based)
        r2_b += dr2 * sum(1 for k in range(i, j) if rows[k][1] == "B")
        tie_t += t * t * t - t
        i = j
    u2_b = r2_b - n_b * (n_b + 1)
    row = QUERIES["events_ab_mann_whitney"].fn(spark, SF_SMOKE).collect()[0]
    assert (row["n_a"], row["n_b"]) == (n_a, n_b)
    assert row["u2_b"] == u2_b
    assert row["tie_correction"] == tie_t
    var_core = (n + 1) - tie_t / (n * (n - 1.0))
    z = (u2_b / 2 - n_a * n_b / 2) / math.sqrt(n_a * n_b / 12.0 * var_core)
    assert abs(row["z_score"] - z) < 1e-9
    # random md5 arms: must NOT read significant at alpha=0.01
    assert abs(row["z_score"]) < 2.58
