"""Round-8 semantic audit, batch 24 — multimodal plumbing laws (m1-m8)
and scale-diagnostic laws (sc4, sc6, sc7).

The m-family's Arrow-batched passes are driver-green against DuckDB
oracles, but both sides could share a misread of the declared FAKE-CODEC
contract (16-byte frames on a 16-byte stride, every-2nd sampling,
tile-and-truncate resize, 64/32 full-frame audio windowing, adaptive
integer VAD threshold). Each law here recomputes the contract from its
prose definition over raw Python ``bytes`` — independent of both the
mapInPandas implementation and the oracle SQL's string indexing.

sc1-sc3's oracles are already differential proofs (oracle == the plain
unsalted/unpruned SQL), so the hash gate IS their law; sc4/sc6/sc7
report derived diagnostics whose formulas could be misdefined on both
engines, hence the brute-force pins.
"""

from __future__ import annotations

import hashlib
from collections import Counter, defaultdict

import numpy as np
import pandas as pd

from etl_power_bi_dashboard_spark.plans import REGISTRY

from .conftest import SF_DIR, sf_table

MOD = 1_000_000_007


def _payloads() -> dict[int, bytes]:
    return {
        int(r["doc_id"]): r["text"].encode("utf-8")
        for _, r in sf_table("documents").iterrows()
        if r["text"] is not None
    }


def _frames(payload: bytes, every_n: int) -> list[bytes]:
    """The declared fake video codec: 16-byte slices on a 16-byte
    stride (a short tail slice included), keep every n-th."""
    return [payload[i:i + 16] for i in range(0, len(payload), 16)][::every_n]


# --------------------------------------------------------- m1-m4


def test_m1_feature_contract(spark):
    """m1 law: byte_len / first_byte / additive checksum mod 1e9+7 over
    the raw utf-8 payload bytes."""
    pay = _payloads()
    rows = REGISTRY["m1_multimodal_features"].spark(spark, SF_DIR).collect()
    got = {r.doc_id: (r.byte_len, r.first_byte, r.checksum) for r in rows}
    expect = {
        d: (len(b), b[0] if b else -1, sum(b) % MOD) for d, b in pay.items()
    }
    assert got == expect and len(got) > 0


def test_m2_every_second_frame_law(spark):
    """m2 law: kept frames are the even-indexed 16-byte slices (offsets
    0, 32, 64, ...), renumbered densely, with true slice lengths — and
    the kept count is ceil(total_frames / 2)."""
    pay = _payloads()
    expect = set()
    for d, b in pay.items():
        kept = _frames(b, 2)
        assert len(kept) == (((len(b) + 15) // 16) + 1) // 2
        for i, fr in enumerate(kept):
            expect.add((d, i, len(fr)))
    rows = REGISTRY["m2_frame_sampling"].spark(spark, SF_DIR).collect()
    got = {(r.doc_id, r.frame_no, r.frame_len) for r in rows}
    assert got == expect and len(got) > 0


def test_m3_centroid_is_per_dim_mean(spark):
    """m3 law: centroid_value[dim] is the arithmetic mean of that
    dimension over the label's vectors (to 6 dp), with every one of the
    64 dims present and the exact group size."""
    emb = sf_table("embeddings")
    by_label = defaultdict(list)
    for _, r in emb.iterrows():
        by_label[int(r["label"])].append(
            np.asarray(r["embedding"], dtype="float64")
        )
    rows = REGISTRY["m3_label_centroids"].spark(spark, SF_DIR).collect()
    got = defaultdict(dict)
    for r in rows:
        got[r.label][r.dim] = (r.centroid_value, r.n_vectors)
    assert set(got) == set(by_label)
    for lab, vecs in by_label.items():
        mean = np.stack(vecs).mean(axis=0)
        assert set(got[lab]) == set(range(1, 65))
        for dim in range(1, 65):
            v, n = got[lab][dim]
            assert n == len(vecs)
            assert abs(v - mean[dim - 1]) < 2e-6


def test_m4_tile_and_truncate_resize_law(spark):
    """m4 law: the fake resize tiles the payload to >= 384 bytes and
    truncates to exactly 384; the fingerprint is md5 of that buffer."""
    pay = _payloads()
    n = 24 * 16
    expect = {}
    for d, b in pay.items():
        if not b:
            continue
        buf = (b * (n // len(b) + 1))[:n]
        assert len(buf) == n
        expect[d] = (n, hashlib.md5(buf).hexdigest())
    rows = REGISTRY["m4_resize"].spark(spark, SF_DIR).collect()
    got = {r.doc_id: (r.out_len, r.resized_md5) for r in rows}
    assert got == expect and len(got) > 0


# --------------------------------------------------------- m5-m8


def _audio_frames(b: bytes, frame: int = 64, hop: int = 32):
    """Full frames only: starts 0, hop, 2*hop ... with start+frame <= n;
    energy is the exact integer sum of squared samples."""
    for idx, s in enumerate(range(0, len(b) - frame + 1, hop)):
        yield idx, s, sum(x * x for x in b[s:s + frame])


def test_m5_full_frame_windowing_law(spark):
    """m5 law: 64/32 windowing emits FULL frames only (short tails and
    sub-frame payloads emit nothing) with exact integer energies."""
    pay = _payloads()
    expect = set()
    for d, b in pay.items():
        if not b:
            continue
        for idx, s, e in _audio_frames(b):
            expect.add((d, idx, s, 64, e))
        # the dropped-tail law: frame count is floor((n-64)/32)+1, 0 if
        # the payload is shorter than one frame
        n_expect = max((len(b) - 64) // 32 + 1, 0) if len(b) >= 64 else 0
        assert sum(1 for t in expect if t[0] == d) == n_expect
    rows = REGISTRY["m5_audio_frames"].spark(spark, SF_DIR).collect()
    got = {(r.doc_id, r.frame_idx, r.start, r.n_samples, r.energy)
           for r in rows}
    assert got == expect and len(got) > 0


def test_m6_shared_frame_fraction_law(spark):
    """m6 law: per doc, n_frames counts DISTINCT frame hashes (not
    frames), n_shared counts those appearing in >= 2 docs, and the
    fraction is their one IEEE ratio."""
    pay = _payloads()
    doc_hashes = {
        d: {hashlib.md5(fr).hexdigest() for fr in _frames(b, 2)}
        for d, b in pay.items()
    }
    docs_per_hash = Counter()
    for hs in doc_hashes.values():
        for h in hs:
            docs_per_hash[h] += 1
    rows = REGISTRY["m6_frame_dedup"].spark(spark, SF_DIR).collect()
    got = {r.doc_id: (r.n_frames, r.n_shared, r.shared_frac) for r in rows}
    expect = {}
    for d, hs in doc_hashes.items():
        if not hs:
            continue
        shared = sum(1 for h in hs if docs_per_hash[h] >= 2)
        expect[d] = (len(hs), shared, float(shared) / float(len(hs)))
    assert got == expect and len(got) > 0


def test_m7_cut_density_law(spark):
    """m7 law: with every_n=1 a cut is an adjacent pair of differing
    frame hashes; density = cuts/(frames-1), NULL for single-frame
    payloads (never 0/0)."""
    pay = _payloads()
    expect = {}
    for d, b in pay.items():
        hs = [hashlib.md5(fr).hexdigest() for fr in _frames(b, 1)]
        if not hs:
            continue
        cuts = sum(1 for a, b2 in zip(hs, hs[1:]) if a != b2)
        dens = float(cuts) / float(len(hs) - 1) if len(hs) > 1 else None
        expect[d] = (len(hs), cuts, dens)
    rows = REGISTRY["m7_scene_cuts"].spark(spark, SF_DIR).collect()
    got = {r.doc_id: (r.n_frames, r.n_cuts, r.cut_density) for r in rows}
    assert got == expect and len(got) > 0


def test_m8_vad_threshold_and_runs_law(spark):
    """m8 law: a frame is active iff energy * n_frames > total_energy
    (strict, exact integers); segments are maximal runs of consecutive
    frame indices; all-silent payloads report zeros, not NULLs."""
    pay = _payloads()
    expect = {}
    for d, b in pay.items():
        frames = list(_audio_frames(b))
        if not frames:
            continue
        n = len(frames)
        tot = sum(e for _, _, e in frames)
        active = [idx for idx, _, e in frames if e * n > tot]
        segs = []
        for idx in active:
            if segs and idx == segs[-1][1] + 1:
                segs[-1][1] = idx
            else:
                segs.append([idx, idx])
        seg_lens = [hi - lo + 1 for lo, hi in segs]
        expect[d] = (
            n,
            len(active),
            len(segs),
            max(seg_lens) if seg_lens else 0,
            float(len(active)) / float(n),
        )
    rows = REGISTRY["m8_vad_segments"].spark(spark, SF_DIR).collect()
    got = {
        r.doc_id: (r.n_frames, r.n_active, r.n_segments,
                   r.longest_segment, r.active_frac)
        for r in rows
    }
    assert got == expect and len(got) > 0
    # the VAD gate must be non-vacuous both ways on this corpus
    assert any(v[1] > 0 for v in got.values())
    assert any(v[1] < v[0] for v in got.values())


# ------------------------------------------------------- sc4/sc6/sc7


def test_sc4_skew_report_argmax_tiebreak_law(spark):
    """sc4 law: hottest_key is the SMALLEST key among count-argmaxes;
    skew_factor = max / (rows/keys) with the plan's IEEE association."""
    per = Counter(
        int(r["l_suppkey"]) for _, r in sf_table("lineitem").iterrows()
    )
    mx = max(per.values())
    hottest = min(k for k, v in per.items() if v == mx)
    n_keys, n_rows = len(per), sum(per.values())
    [row] = REGISTRY["sc4_skew_report"].spark(spark, SF_DIR).collect()
    assert (row.n_keys, row.n_rows, row.max_rows, row.hottest_key) == (
        n_keys, n_rows, mx, hottest
    )
    assert row.skew_factor == float(mx) / (float(n_rows) / float(n_keys))


def test_sc6_buckets_are_balanced_ordered_and_exact(spark):
    """sc6 law: bucket b holds the rows whose global (orderkey,
    linenumber) rank r satisfies (r-1)*32 div N == b — so every bucket
    has floor/ceil(N/32) rows and key ranges are non-overlapping and
    ordered. Duplicate sort keys make rank assignment ambiguous only
    WITHIN a key, which cannot change per-bucket counts or boundaries."""
    li = sf_table("lineitem")[["l_orderkey", "l_linenumber"]].copy()
    li = li.sort_values(["l_orderkey", "l_linenumber"], kind="mergesort")
    n = len(li)
    per = defaultdict(lambda: [0, None, None])  # n_rows, lo, hi
    for rank, (_, r) in enumerate(li.iterrows(), start=1):
        b = ((rank - 1) * 32) // n
        cell = per[b]
        cell[0] += 1
        k = int(r["l_orderkey"])
        cell[1] = k if cell[1] is None else min(cell[1], k)
        cell[2] = k if cell[2] is None else max(cell[2], k)
    rows = REGISTRY["sc6_range_partition_plan"].spark(spark, SF_DIR).collect()
    got = {r.bucket: (r.n_rows, r.lo_key, r.hi_key) for r in rows}
    assert got == {b: tuple(c) for b, c in per.items()}
    # balance law
    assert all(v[0] in (n // 32, n // 32 + 1) for v in got.values())
    # ordered, non-overlapping boundaries (adjacent buckets may share
    # the straddling key)
    bs = sorted(got)
    assert bs == list(range(32))
    for a, b in zip(bs, bs[1:]):
        assert got[a][2] <= got[b][1]


def test_sc7_zone_map_skip_decisions_law(spark):
    """sc7 law: can_skip iff the file's max ship epoch-day < cutoff;
    a skippable file has zero matches BY CONSTRUCTION; per-layout
    n_match totals agree (the layouts file the same rows); and the
    ship-clustered layout has no zone false positives while skipping
    every strictly-pre-cutoff month."""
    li = sf_table("lineitem")[["l_orderkey", "l_shipdate"]]
    o = {int(r["o_orderkey"]): pd.Timestamp(r["o_orderdate"])
         for _, r in sf_table("orders").iterrows()}
    cutoff = (pd.Timestamp("1997-01-01") - pd.Timestamp("1970-01-01")).days
    per = {"by_order_month": defaultdict(lambda: [0, None, None, 0]),
           "by_ship_month": defaultdict(lambda: [0, None, None, 0])}
    for _, r in li.iterrows():
        sd = pd.Timestamp(r["l_shipdate"])
        ep = (sd.normalize() - pd.Timestamp("1970-01-01")).days
        od = o[int(r["l_orderkey"])]
        for layout, fid in (
            ("by_order_month", od.year * 100 + od.month),
            ("by_ship_month", sd.year * 100 + sd.month),
        ):
            c = per[layout][fid]
            c[0] += 1
            c[1] = ep if c[1] is None else min(c[1], ep)
            c[2] = ep if c[2] is None else max(c[2], ep)
            c[3] += 1 if ep >= cutoff else 0
    rows = REGISTRY["sc7_zone_map_skipping"].spark(spark, SF_DIR).collect()
    got = {
        (r.layout, r.file_id): (
            r.n_rows, r.min_ship_ep, r.max_ship_ep, r.n_match,
            r.can_skip, r.zone_false_positive,
        )
        for r in rows
    }
    expect = {}
    for layout, files in per.items():
        for fid, (nr, lo, hi, nm) in files.items():
            expect[(layout, fid)] = (
                nr, lo, hi, nm, hi < cutoff, hi >= cutoff and nm == 0
            )
    assert got == expect and len(got) > 0
    # definitional consistencies
    for (layout, fid), (nr, lo, hi, nm, skip, zfp) in got.items():
        if skip:
            assert nm == 0 and not zfp
    tot = {"by_order_month": 0, "by_ship_month": 0}
    for (layout, _), v in got.items():
        tot[layout] += v[3]
    assert tot["by_order_month"] == tot["by_ship_month"]
    # the clustered layout's zone maps are airtight: no false positives,
    # and every strictly-pre-cutoff month file is skippable
    ship_rows = {fid: v for (lay, fid), v in got.items()
                 if lay == "by_ship_month"}
    assert all(not v[5] for v in ship_rows.values())
    assert all(v[4] == (fid < 199701) for fid, v in ship_rows.items())
    assert any(v[4] for v in ship_rows.values())
    # while the uncorrelated order-month layout can skip nothing
    assert not any(
        v[4] for (lay, _), v in got.items() if lay == "by_order_month"
    )
