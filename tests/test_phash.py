"""Perceptual-hash media near-dup tier: aHash/dHash over the real
decode path (pipeline/multimodal.py) + Hamming-blocked pair generation
(dedup.hamming_neardup_pairs).  New LLM-pipeline surface — no
petropandas analogue; the contracts tested here are the ones the
DuckDB oracle relies on (integer-exact luminance grids, signed-long
bit packing) plus the planted-twin recall the fixture family encodes.
"""

from __future__ import annotations

import numpy as np
import pytest

from petropandas_spark.pipeline import dedup as dd
from petropandas_spark.pipeline import multimodal as mm


def _rand_img(seed: int, n: int = 24) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return (rng.integers(0, 256, (n, n, 3)) / 255.0).astype(np.float32)


def _ham(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


class TestHashUnits:
    def test_planted_near_identical_image_small_hamming(self):
        """One blown-out pixel at a grid-sampled position flips at most
        the two dHash comparisons that read it (and few aHash cells via
        the mean), while staying within the pair gate."""
        img = _rand_img(7)
        twin = img.copy()
        twin[4, 4] = 1.0  # (4,4) is sampled by BOTH the 8x8 + 8x9 grids
        assert _ham(mm.dhash64(img), mm.dhash64(twin)) <= 2
        assert _ham(mm.ahash64(img), mm.ahash64(twin)) <= 4

    def test_unrelated_images_far_apart(self):
        a, b = _rand_img(1), _rand_img(2)
        assert _ham(mm.dhash64(a), mm.dhash64(b)) >= 10
        assert _ham(mm.ahash64(a), mm.ahash64(b)) >= 10

    def test_hash_deterministic_and_encode_decode_invariant(self):
        """The PPM byte round-trip must not move a single hash bit —
        the property that lets the oracle skip the encode/decode."""
        img = _rand_img(3)
        rt = mm.decode_image(mm.encode_ppm(img))
        assert mm.ahash64(img) == mm.ahash64(rt)
        assert mm.dhash64(img) == mm.dhash64(rt)

    def test_pack_bits64_signed_long_convention(self):
        assert mm._pack_bits64([True] + [False] * 63) == 1
        assert mm._pack_bits64([False] * 63 + [True]) == -(1 << 63)
        assert mm._pack_bits64([True] * 64) == -1
        assert mm._pack_bits64([False] * 64) == 0

    def test_fixture_pixel_values_roundtrip_exact(self):
        """fixture_pixel_values → encode_ppm → decode_image recovers the
        integer channel values bit-for-bit under rint(px·255)."""
        for doc_id in (0, 1, 2, 7, 300):
            vals = mm.fixture_pixel_values(doc_id)
            img = mm.decode_image(
                mm.encode_ppm(vals.astype(np.float32) / 255.0)
            )
            back = np.rint(img * 255.0).astype(np.int64)
            assert (back == vals).all(), doc_id

    def test_fixture_family_structure(self):
        """Variant 1 (one tweaked pixel) stays within the Hamming gate
        of its family base; variant 2 (gradient overlay) is far out."""
        for base in (0, 5, 41):
            h = [
                mm.dhash64(mm.decode_image(mm.encode_ppm(
                    mm.fixture_pixel_values(3 * base + m)
                    .astype(np.float32) / 255.0)))
                for m in range(3)
            ]
            assert _ham(h[0], h[1]) <= 3
            assert _ham(h[0], h[2]) > 3
            assert _ham(h[1], h[2]) > 3

    def test_monotone_luminance_invariance(self):
        """The property that makes gradient-sign hashes PERCEPTUAL: an
        affine brightness change (dimming, contrast scaling) preserves
        every pairwise luminance comparison — including the exact
        integer mean comparison (64·g > Σg) — so both hashes are
        bit-identical on the transformed image.  Even-valued pixels
        keep the ×0.5 transform rounding-free (odd values would tie
        adjacent levels through rint and could flip razor-thin
        margins — a quantization artifact, not a hash property)."""
        rng = np.random.default_rng(21)
        vals = rng.integers(0, 128, (24, 24, 3)) * 2  # even 0..254
        img = (vals / 255.0).astype(np.float32)
        dimmed = (vals / 2 / 255.0).astype(np.float32)
        shifted = ((vals / 2 + 64) / 255.0).astype(np.float32)
        assert mm.dhash64(img) == mm.dhash64(dimmed)
        assert mm.ahash64(img) == mm.ahash64(dimmed)
        assert mm.dhash64(img) == mm.dhash64(shifted)
        assert mm.ahash64(img) == mm.ahash64(shifted)

    def test_luma_grid_any_source_size(self):
        """The grid sampler is not 16×16-specific: a 37×23 image yields
        the documented shapes with in-range integer luminance."""
        img = _rand_img(11, n=37)[:, :23]
        g = mm.luma_grid(img, 8, 9)
        assert g.shape == (8, 9)
        assert g.dtype == np.int64
        assert (g >= 0).all() and (g <= 255 * (299 + 587 + 114)).all()


class TestAudioFingerprint:
    def test_fixture_samples_roundtrip_exact(self):
        """fixture_audio_samples → encode_wav → decode_audio restores
        the integer PCM values bit-for-bit under rint(x·32768)."""
        for doc_id in (0, 1, 2, 7, 300):
            vals = mm.fixture_audio_samples(doc_id)
            x, rate = mm.decode_audio(mm.encode_wav(
                vals.astype(np.float32) / 32767.0, mm.FIXTURE_WAV_RATE))
            assert rate == mm.FIXTURE_WAV_RATE
            back = np.rint(x[:, 0] * 32768.0).astype(np.int64)
            assert (back == vals).all(), doc_id

    def test_fixture_family_structure(self):
        """Variant 1 (one +300 frame) moves at most the two
        fingerprint bits that compare that frame's energy; variant 2
        (sawtooth overlay) lands far outside the gate."""
        for base in (0, 5, 41):
            h = [
                mm.audio_fingerprint64(mm.decode_audio(mm.encode_wav(
                    mm.fixture_audio_samples(3 * base + m)
                    .astype(np.float32) / 32767.0, 8000))[0])
                for m in range(3)
            ]
            assert _ham(h[0], h[1]) <= 2
            assert _ham(h[0], h[2]) > 3
            assert _ham(h[1], h[2]) > 3

    def test_near_identical_clip_small_hamming(self):
        """A localized dropout in an arbitrary real-valued clip flips
        at most the bits whose frames it touches."""
        rng = np.random.default_rng(5)
        clip = (rng.normal(0, 0.2, 1300).clip(-1, 1)
                .astype(np.float32))
        twin = clip.copy()
        twin[400:420] = 0.0  # 20-sample dropout spans ≤2 of 65 frames
        assert _ham(mm.audio_fingerprint64(clip),
                    mm.audio_fingerprint64(twin)) <= 4

    def test_empty_clip_zero_fingerprint(self):
        assert mm.audio_fingerprint64(np.zeros((0, 1),
                                               dtype=np.float32)) == 0

    def test_audio_quarantine_routes_corrupt_clips(self, spark):
        good = mm.encode_wav(
            mm.fixture_audio_samples(0).astype(np.float32) / 32767.0, 8000)
        df = spark.createDataFrame(
            [(0, bytearray(good)), (1, bytearray(b"ID3mp3-ish")),
             (2, bytearray(b""))],
            "doc_id LONG, content BINARY",
        )
        rows = {r["doc_id"]: r for r in
                mm.audio_fingerprints(df, on_error="quarantine").collect()}
        assert rows[0]["decode_error"] is None and rows[0]["afp"] is not None
        for bad in (1, 2):
            assert rows[bad]["afp"] is None
            assert "NotImplementedError" in rows[bad]["decode_error"]
        with pytest.raises(Exception):
            mm.audio_fingerprints(df).collect()

    def test_spark_pairs_find_planted_twins(self, spark):
        """4 clips: base, near-twin, unrelated, exact copy — the pair
        query finds exactly the three twin pairs."""
        base = mm.fixture_audio_samples(0).astype(np.float32) / 32767.0
        twin = mm.fixture_audio_samples(1).astype(np.float32) / 32767.0
        other = mm.fixture_audio_samples(302).astype(np.float32) / 32767.0
        blobs = [mm.encode_wav(s, 8000) for s in (base, twin, other, base)]
        df = spark.createDataFrame(
            [(i, bytearray(b)) for i, b in enumerate(blobs)],
            "doc_id LONG, content BINARY",
        )
        pairs = {
            (r["doc_a"], r["doc_b"])
            for r in dd.hamming_neardup_pairs(
                mm.audio_fingerprints(df), "afp", "doc_id", max_hamming=3
            ).collect()
        }
        assert pairs == {(0, 1), (0, 3), (1, 3)}

    def test_multioffset_gate_recovers_trimmed_twin(self, spark):
        """The measured time-offset failure class (tools/
        audio_recall.py: a half-frame trim has single-offset recall
        0.0) and its mitigation: multi-offset fingerprints pair the
        trimmed twin through a cross-offset match, while the
        single-offset gate misses it; unrelated clips stay out and a
        clip's own offset rows never self-pair."""
        rng = np.random.default_rng(23)
        n = 2080  # 65 frames x 32 samples -> half-frame = 16
        prof = rng.uniform(0.1, 0.9, 66)
        amp = np.interp(np.linspace(0.0, 65.0, n), np.arange(66.0), prof)
        t = np.arange(n) / 8000.0
        base = (amp * np.sin(2 * np.pi * 440 * t)).astype(np.float32)
        trimmed = base[16:]  # half-frame cut
        other = (np.interp(np.linspace(0.0, 65.0, n), np.arange(66.0),
                           rng.uniform(0.1, 0.9, 66))
                 * np.sin(2 * np.pi * 440 * t)).astype(np.float32)
        blobs = [mm.encode_wav(s, 8000) for s in (base, trimmed, other)]
        df = spark.createDataFrame(
            [(i, bytearray(b)) for i, b in enumerate(blobs)],
            "doc_id LONG, content BINARY",
        )
        single = {(r.doc_a, r.doc_b) for r in dd.hamming_neardup_pairs(
            mm.audio_fingerprints(df), "afp", "doc_id",
            max_hamming=3).collect()}
        assert (0, 1) not in single  # the documented failure class
        fps = mm.audio_fingerprints_offsets(df, offsets=(0.0, 0.5))
        assert fps.count() == 6  # 3 clips x 2 offsets
        multi = {(r.doc_a, r.doc_b): r.hamming
                 for r in mm.audio_neardup_pairs_multioffset(
                     fps, "doc_id", max_hamming=3).collect()}
        assert set(multi) == {(0, 1)}  # recovered; unrelated stays out

    def test_multioffset_incremental_equals_full_on_batch_slice(
            self, spark):
        """Multi-offset incremental contract: stacked-row pairs from
        (store, batch) ≡ the full multi-offset recompute restricted to
        batch-touching pairs (a clip lands with ALL its offset rows in
        one batch)."""
        docs = spark.range(0, 18).selectExpr("id AS doc_id")
        fps = mm.audio_fingerprints_offsets(
            mm.synthesize_fixture_audio(docs),
            offsets=(0.0, 0.5)).localCheckpoint()
        store = fps.where("doc_id % 2 = 0")
        batch = fps.where("doc_id % 2 = 1")
        incr = {(r.doc_a, r.doc_b, r.hamming)
                for r in mm.audio_incremental_pairs_multioffset(
                    store, batch).collect()}
        full = {(r.doc_a, r.doc_b, r.hamming)
                for r in mm.audio_neardup_pairs_multioffset(fps).collect()
                if r.doc_a % 2 == 1 or r.doc_b % 2 == 1}
        assert incr == full and len(incr) > 0
        first = {(r.doc_a, r.doc_b, r.hamming)
                 for r in mm.audio_incremental_pairs_multioffset(
                     None, fps).collect()}
        assert first == {(r.doc_a, r.doc_b, r.hamming) for r in
                         mm.audio_neardup_pairs_multioffset(fps).collect()}

    def test_multioffset_duckdb_cross_check(self, spark):
        """DuckDB mirror of the multi-offset fingerprints and the
        min-over-combos pair gate on the closed-form fixture clips
        (the registration-ready oracle shape): the WAV round-trip is
        integer-exact, so the oracle re-frames the sample formula at
        each offset (drop the first floor(n·off/65) samples,
        proportional frames over the remainder) and packs the
        energy-sign bits exactly like the Spark path."""
        import duckdb

        from petropandas_spark.registry import _audio_fp_duck_ctes

        n_docs, n = 36, 1040
        docs = spark.range(0, n_docs).selectExpr("id AS doc_id")
        fps = mm.audio_fingerprints_offsets(
            mm.synthesize_fixture_audio(docs),
            offsets=(0.0, 0.5)).localCheckpoint()
        got_fps = {(r.doc_id, r.off_idx, r.afp) for r in fps.collect()}
        got_pairs = {(r.doc_a, r.doc_b, r.hamming)
                     for r in mm.audio_neardup_pairs_multioffset(
                         fps, max_hamming=3).collect()}
        con = duckdb.connect()
        con.execute(
            f"CREATE TABLE documents AS "
            f"SELECT unnest(generate_series(0, {n_docs - 1}, 1)) AS doc_id")
        pack = ("CAST(SUM(CASE WHEN bit = 1 AND b = 63 "
                "THEN -9223372036854775808 "
                "WHEN bit = 1 THEN (CAST(1 AS BIGINT) << b) "
                "ELSE 0 END) AS BIGINT)")
        # offsets {0.0, 0.5} -> drop k = floor(n*off/65) head samples
        sql = f"""
WITH {_audio_fp_duck_ctes()},
offs AS (SELECT * FROM (VALUES (0, 0), (1, {n // 130})) o(oi, k)),
osmp AS (SELECT a.doc_id, o.oi, a.i - o.k AS j, a.s
         FROM asmp a, offs o WHERE a.i >= o.k),
onrg AS (SELECT doc_id, oi, (j * 65) // ({n} - IF(oi = 1, {n // 130}, 0))
                AS f, SUM(s * s) AS e
         FROM osmp GROUP BY ALL),
obit AS (SELECT a.doc_id, a.oi, a.f AS b,
                CASE WHEN nx.e > a.e THEN 1 ELSE 0 END AS bit
         FROM onrg a JOIN onrg nx
           ON a.doc_id = nx.doc_id AND a.oi = nx.oi AND nx.f = a.f + 1),
ofps AS (SELECT doc_id, oi, {pack} AS afp FROM obit GROUP BY doc_id, oi)
SELECT doc_id, oi, afp FROM ofps
"""
        expect_fps = {(d, o, a) for d, o, a in con.execute(sql).fetchall()}
        assert got_fps == expect_fps
        pair_sql = sql.replace(
            "SELECT doc_id, oi, afp FROM ofps", f"""
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(MIN(bit_count(xor(a.afp, b.afp))) AS INT) AS hamming
FROM ofps a JOIN ofps b ON a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING MIN(bit_count(xor(a.afp, b.afp))) <= 3
""")
        expect_pairs = {(a, b, h)
                        for a, b, h in con.execute(pair_sql).fetchall()}
        assert got_pairs == expect_pairs and len(got_pairs) > 0

    def test_either_incremental_equals_full_on_batch_slice(self, spark):
        """hamming_incremental_pairs_either ≡ the union gate's full
        recompute (pair set + min-over-fired-gates hamming) restricted
        to batch-touching pairs."""
        rng = np.random.default_rng(29)
        rows = []
        vals = rng.integers(-(1 << 62), 1 << 62, (20, 2),
                            dtype=np.int64)
        # plant: 12 is an ahash-twin of 2, 13 a dhash-twin of 3,
        # 14 both-twin of 15 (batch-batch)
        vals[12, 0] = vals[2, 0] ^ 0b11
        vals[13, 1] = vals[3, 1] ^ 0b1
        vals[14] = vals[15] ^ np.int64(0b101)
        rows = [(i, int(a), int(d)) for i, (a, d) in enumerate(vals)]
        sigs = spark.createDataFrame(
            rows, "doc_id LONG, ahash LONG, dhash LONG")
        store = sigs.where("doc_id < 12")
        batch = sigs.where("doc_id >= 12")
        incr = {(r.doc_a, r.doc_b, r.hamming)
                for r in dd.hamming_incremental_pairs_either(
                    store, batch, ["ahash", "dhash"]).collect()}
        full: dict = {}
        for c in ("ahash", "dhash"):
            for r in dd.hamming_neardup_pairs(
                    sigs, c, "doc_id", max_hamming=3).collect():
                if r.doc_a >= 12 or r.doc_b >= 12:
                    k = (r.doc_a, r.doc_b)
                    full[k] = min(full.get(k, 64), r.hamming)
        assert incr == {(a, b, h) for (a, b), h in full.items()}
        assert {(p[0], p[1]) for p in incr} == {(2, 12), (3, 13),
                                                (14, 15)}
        with pytest.raises(ValueError, match="sig_cols"):
            dd.hamming_incremental_pairs_either(store, batch, [])

    def test_audio_containment_short_in_long(self, spark):
        """A 2-window clip sampled from a 4-window track: the symmetric
        whole-clip gate misses it (the global energy profile differs),
        the windowed containment gate finds it at containment 1.0 (2/2
        of the SHORT side's windows matched); an unrelated track stays
        out.  Per-clip random amplitude profiles (the r13 fixture
        lesson: global envelopes degenerate the unrelated floor)."""
        rng = np.random.default_rng(61)
        w, rate = 1040, 8000

        def wav(samples):
            return bytearray(mm.encode_wav(
                samples.astype(np.float32) / 32767.0, rate))

        track = rng.integers(-2000, 2000, 4 * w).astype(np.int64)
        clip = track[w:3 * w]                      # windows 1..2
        other = rng.integers(-2000, 2000, 3 * w).astype(np.int64)
        df = spark.createDataFrame(
            [(0, wav(track)), (1, wav(clip)), (2, wav(other))],
            "doc_id LONG, content BINARY")
        fps = mm.audio_fingerprints_windows(
            df, window_samples=w).localCheckpoint()
        # whole-clip symmetric gate: clip vs track NOT within H<=3
        whole = mm.audio_fingerprints(df)
        sym = {(r.doc_a, r.doc_b) for r in
               dd.hamming_neardup_pairs(whole, "afp", "doc_id",
                                        max_hamming=3).collect()}
        assert (0, 1) not in sym
        got = {(r.doc_a, r.doc_b): r
               for r in mm.audio_containment_pairs(
                   fps, min_frac=0.8).collect()}
        assert set(got) == {(0, 1)}
        r = got[(0, 1)]
        assert r.n_matched_b == 2 and abs(r.containment - 1.0) < 1e-9

    def test_audio_incremental_containment_equals_full(self, spark):
        """(store, batch) containment ≡ the full gate restricted to
        batch-touching pairs, denominators over store ∪ batch."""
        rng = np.random.default_rng(67)
        rows = []
        for cid in range(10):
            sigs = rng.integers(-(1 << 62), 1 << 62,
                                5 if cid % 2 == 0 else 2, dtype=np.int64)
            if cid % 2 == 1:  # odd clips are cut from the previous track
                prev = [r for r in rows if r[0] == cid - 1][1:3]
                sigs = [p[2] ^ 1 for p in prev]
            rows += [(cid, k, int(s)) for k, s in enumerate(sigs)]
        fps = spark.createDataFrame(
            rows, "doc_id LONG, win_idx INT, afp LONG")
        store = fps.where("doc_id < 6")
        batch = fps.where("doc_id >= 6")
        incr = {(r.doc_a, r.doc_b, round(r.containment, 9))
                for r in mm.audio_incremental_containment(
                    store, batch, min_frac=0.8).collect()}
        full = {(r.doc_a, r.doc_b, round(r.containment, 9))
                for r in mm.audio_containment_pairs(
                    fps, min_frac=0.8).collect()
                if r.doc_a >= 6 or r.doc_b >= 6}
        assert incr == full and len(incr) > 0
        first = {(r.doc_a, r.doc_b, round(r.containment, 9))
                 for r in mm.audio_incremental_containment(
                     None, fps, min_frac=0.8).collect()}
        assert first == {(r.doc_a, r.doc_b, round(r.containment, 9))
                         for r in mm.audio_containment_pairs(
                             fps, min_frac=0.8).collect()}

    def test_audio_windows_duckdb_cross_check(self, spark):
        """DuckDB mirror of the windowed fingerprints and the
        containment gate on the closed-form fixture clips (the
        r15-registration-ready oracle shape): re-frame the sample
        formula per 260-sample window (4 windows per 1040-sample clip),
        pack the energy-sign bits, and apply the capped all-pairs H≤3
        fraction gate."""
        import duckdb

        from petropandas_spark.registry import _audio_fp_duck_ctes

        n_docs, w = 36, 260
        docs = spark.range(0, n_docs).selectExpr("id AS doc_id")
        fps = mm.audio_fingerprints_windows(
            mm.synthesize_fixture_audio(docs),
            window_samples=w).localCheckpoint()
        got_fps = {(r.doc_id, r.win_idx, r.afp) for r in fps.collect()}
        got_pairs = {(r.doc_a, r.doc_b, r.n_matched_a, r.n_matched_b,
                      round(r.containment, 9))
                     for r in mm.audio_containment_pairs(
                         fps, min_frac=0.7, max_hamming=3,
                         max_fp_df=10).collect()}
        con = duckdb.connect()
        con.execute(
            f"CREATE TABLE documents AS "
            f"SELECT unnest(generate_series(0, {n_docs - 1}, 1)) AS doc_id")
        pack = ("CAST(SUM(CASE WHEN bit = 1 AND b = 63 "
                "THEN -9223372036854775808 "
                "WHEN bit = 1 THEN (CAST(1 AS BIGINT) << b) "
                "ELSE 0 END) AS BIGINT)")
        base = f"""
WITH {_audio_fp_duck_ctes()},
wsmp AS (SELECT doc_id, i // {w} AS wi, i % {w} AS j, s FROM asmp),
wnrg AS (SELECT doc_id, wi, (j * 65) // {w} AS f, SUM(s * s) AS e
         FROM wsmp GROUP BY ALL),
wbit AS (SELECT a.doc_id, a.wi, a.f AS b,
                CASE WHEN nx.e > a.e THEN 1 ELSE 0 END AS bit
         FROM wnrg a JOIN wnrg nx
           ON a.doc_id = nx.doc_id AND a.wi = nx.wi AND nx.f = a.f + 1),
wfps AS (SELECT doc_id, CAST(wi AS INT) AS win_idx, {pack} AS afp
         FROM wbit GROUP BY doc_id, wi)"""
        expect_fps = {(d, i, a) for d, i, a in con.execute(
            base + "\nSELECT doc_id, win_idx, afp FROM wfps").fetchall()}
        assert got_fps == expect_fps and len(got_fps) == 4 * n_docs
        pair_sql = base + f"""
, vd AS (SELECT DISTINCT doc_id, afp FROM wfps),
vok AS (SELECT afp FROM vd GROUP BY afp HAVING COUNT(*) <= 10),
vk AS (SELECT vd.doc_id, vd.afp FROM vd JOIN vok USING (afp)),
vc AS (SELECT doc_id, COUNT(*) AS n FROM vk GROUP BY doc_id),
m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.afp AS sa, b.afp AS sb
      FROM vk a JOIN vk b
        ON a.doc_id < b.doc_id
       AND bit_count(xor(a.afp, b.afp)) <= 3),
pp AS (SELECT doc_a, doc_b,
              COUNT(DISTINCT sa) AS na, COUNT(DISTINCT sb) AS nb
       FROM m GROUP BY doc_a, doc_b)
SELECT doc_a, doc_b, na, nb,
       greatest(CAST(na AS DOUBLE) / ca.n, CAST(nb AS DOUBLE) / cb.n)
         AS containment
FROM pp JOIN vc ca ON ca.doc_id = pp.doc_a
        JOIN vc cb ON cb.doc_id = pp.doc_b
WHERE greatest(CAST(na AS DOUBLE) / ca.n, CAST(nb AS DOUBLE) / cb.n)
      >= 0.7
"""
        expect_pairs = {(a, b, int(na), int(nb), round(c, 9))
                        for a, b, na, nb, c in
                        con.execute(pair_sql).fetchall()}
        assert got_pairs == expect_pairs and len(got_pairs) > 0

    def test_audio_windows_quarantine_and_short_clip(self, spark):
        """Quarantine contract (NULL row, win_idx -1) and the
        shorter-than-one-window clip emitting no rows."""
        ok = mm.fixture_audio_samples(0).astype(np.float32) / 32767.0
        df = spark.createDataFrame(
            [(0, bytearray(mm.encode_wav(ok, 8000))),
             (1, bytearray(b"notwav")),
             (2, bytearray(mm.encode_wav(ok[:100], 8000)))],
            "doc_id LONG, content BINARY")
        rows = mm.audio_fingerprints_windows(
            df, window_samples=520, on_error="quarantine").collect()
        by_id: dict = {}
        for r in rows:
            by_id.setdefault(r.doc_id, []).append(r)
        assert len(by_id[0]) == 2  # 1040 // 520
        assert len(by_id[1]) == 1 and by_id[1][0].afp is None \
            and by_id[1][0].win_idx == -1
        assert 2 not in by_id  # 100 < 520: no full window
        with pytest.raises(ValueError, match="window_samples"):
            mm.audio_fingerprints_windows(df, window_samples=0)

    def test_onset_anchored_containment_survives_midwindow_cut(
            self, spark):
        """The measured failure + fix (tools/audio_containment_recall):
        a clip cut mid-window from a longer track is MISSED by the
        window-grid containment gate (every window straddles two track
        windows) and FOUND by the onset-anchored gate (sample-exact
        content-locked anchors; interior onsets give H=0 windows)."""
        rng = np.random.default_rng(83)
        w, fr = 1040, 64

        def track_with_attacks(seed_off):
            t = np.empty(8 * w)
            r = np.random.default_rng(83 + seed_off)
            for s in range(8):
                base = r.uniform(300, 900)
                seg = r.standard_normal(w) * base
                # attack SHORTER than the detector frame (the anchor
                # refinement's convergence radius): note/word attacks
                # are transients, not sustained spans
                seg[:32] *= 10.0
                t[s * w:(s + 1) * w] = seg
            return np.clip(np.rint(t), -30000, 30000)

        def wav(v):
            return bytearray(mm.encode_wav(
                v.astype(np.float32) / 32767.0, 8000))

        track = track_with_attacks(0)
        clip = track[w + 137:w + 137 + 4 * w]     # mid-window cut
        other = track_with_attacks(1)
        df = spark.createDataFrame(
            [(0, wav(track)), (1, wav(clip)), (2, wav(other))],
            "doc_id LONG, content BINARY")
        # window-grid gate: (0, 1) NOT found
        wfps = mm.audio_fingerprints_windows(df, window_samples=w)
        missed = {(r.doc_a, r.doc_b)
                  for r in mm.audio_containment_pairs(
                      wfps, min_frac=0.7).collect()}
        assert (0, 1) not in missed
        # onset-anchored gate: (0, 1) found, unrelated stays out
        ofps = mm.audio_fingerprints_onsets(
            df, window_samples=w).localCheckpoint()
        got = {(r.doc_a, r.doc_b): r
               for r in mm.audio_containment_pairs(
                   ofps, min_frac=0.7).collect()}
        assert (0, 1) in got and (0, 2) not in got and (1, 2) not in got
        # interior onsets match at H=0: every matched clip anchor is
        # sample-identical to the track's window for the same attack
        rows = {(r.doc_id, r.anchor_idx, r.afp) for r in ofps.collect()}
        t_sigs = {a for d, _, a in rows if d == 0}
        c_sigs = [a for d, _, a in rows if d == 1]
        assert sum(1 for a in c_sigs if a in t_sigs) \
            >= 0.7 * len(set(c_sigs))

    def test_onset_fingerprints_contracts(self, spark):
        """Quarantine row (anchor −1), shorter-than-window clip emits
        no rows, no-onset clip falls back to one middle anchor, and
        end-overrunning onsets are dropped rather than clamped."""
        quiet = (np.random.default_rng(5).standard_normal(2080)
                 * 200.0)
        df = spark.createDataFrame(
            [(0, bytearray(mm.encode_wav(
                np.clip(np.rint(quiet), -30000, 30000)
                .astype(np.float32) / 32767.0, 8000))),
             (1, bytearray(b"notwav")),
             (2, bytearray(mm.encode_wav(
                 (quiet[:500]).astype(np.float32) / 32767.0, 8000)))],
            "doc_id LONG, content BINARY")
        rows = mm.audio_fingerprints_onsets(
            df, window_samples=1040, on_error="quarantine").collect()
        by_id: dict = {}
        for r in rows:
            by_id.setdefault(r.doc_id, []).append(r)
        assert len(by_id[0]) == 1 and by_id[0][0].anchor_idx == 520
        assert by_id[1][0].anchor_idx == -1 and by_id[1][0].afp is None
        assert 2 not in by_id
        with pytest.raises(ValueError, match="positive"):
            mm.audio_fingerprints_onsets(df, window_samples=0)

    def test_onset_anchor_cut_invariance_randomized(self, spark):
        """Property: for tracks with STRONG attacks (detection cannot
        be threshold-borderline), every interior onset anchor of a
        clip cut at a RANDOM offset is sample-identical to the track's
        anchor for the same attack — containment 1.0 at every cut, in
        one Spark call over (track + 6 random-cut clips)."""
        rng = np.random.default_rng(97)
        w = 1040
        t = np.empty(8 * w)
        for s in range(8):
            seg = rng.standard_normal(w) * rng.uniform(280, 320)
            seg[:32] *= 20.0
            t[s * w:(s + 1) * w] = seg
        track = np.clip(np.rint(t), -30000, 30000)

        def wav(v):
            return bytearray(mm.encode_wav(
                v.astype(np.float32) / 32767.0, 8000))

        cuts = [int(c) for c in rng.integers(1, 3 * w, 6)]
        rows = [(0, wav(track))] + [
            (k + 1, wav(track[c:c + 4 * w]))
            for k, c in enumerate(cuts)
        ]
        df = spark.createDataFrame(rows, "doc_id LONG, content BINARY")
        fps = mm.audio_fingerprints_onsets(df).localCheckpoint()
        got = {(r.doc_a, r.doc_b): r.containment
               for r in mm.audio_containment_pairs(
                   fps, min_frac=0.99).collect()}
        for k in range(len(cuts)):
            assert got.get((0, k + 1), 0.0) >= 0.99, \
                f"cut {cuts[k]} missed: {got}"

    def test_union_gate_property_random_signatures(self, spark):
        """Property: video_neardup_pairs_union over RANDOM tier-tagged
        signature rows (planted per-tier twins) ≡ per-tier fuzzy gates
        unioned with greatest-over-fired n_shared — the tier-isolation
        contract on inputs with no fixture structure."""
        for seed in (7, 23):
            rng = np.random.default_rng(seed)
            rows = []
            for d in range(14):
                for tier in (0, 1):
                    k = 3 if tier == 0 else 5
                    for idx, v in enumerate(
                            rng.integers(-(1 << 62), 1 << 62, k,
                                         dtype=np.int64)):
                        rows.append((d, tier, idx, int(v)))
            # plant: docs 10/11 share 2 tier-0 hashes (H<=1); docs
            # 12/13 share 3 tier-1 hashes exactly
            rows = [r for r in rows
                    if not (r[0] in (10, 11) and r[1] == 0 and r[2] < 2)
                    and not (r[0] in (12, 13) and r[1] == 1 and r[2] < 3)]
            shared0 = rng.integers(-(1 << 62), 1 << 62, 2, dtype=np.int64)
            shared1 = rng.integers(-(1 << 62), 1 << 62, 3, dtype=np.int64)
            for i, v in enumerate(shared0):
                rows.append((10, 0, i, int(v)))
                rows.append((11, 0, i, int(v) ^ 1))
            for i, v in enumerate(shared1):
                rows.append((12, 1, i, int(v)))
                rows.append((13, 1, i, int(v)))
            sigs = spark.createDataFrame(
                rows, "doc_id LONG, tier INT, idx INT, fhash LONG")
            got = {(r.doc_a, r.doc_b, r.n_shared)
                   for r in mm.video_neardup_pairs_union(
                       sigs, min_shared=2).collect()}
            expect: dict = {}
            for t in (0, 1):
                for r in mm.video_neardup_pairs_fuzzy(
                        sigs.where(f"tier = {t}"),
                        min_shared=2).collect():
                    k = (r.doc_a, r.doc_b)
                    expect[k] = max(expect.get(k, 0), r.n_shared)
            assert got == {(a, b, n) for (a, b), n in expect.items()}
            assert {(p[0], p[1]) for p in got} >= {(10, 11), (12, 13)}

    def test_multioffset_quarantine(self, spark):
        df = spark.createDataFrame(
            [(0, bytearray(mm.encode_wav(
                mm.fixture_audio_samples(0).astype(np.float32) / 32767.0,
                8000))),
             (1, bytearray(b"notwav"))],
            "doc_id LONG, content BINARY",
        )
        rows = mm.audio_fingerprints_offsets(
            df, offsets=(0.0, 0.5), on_error="quarantine").collect()
        good = [r for r in rows if r["doc_id"] == 0]
        bad = [r for r in rows if r["doc_id"] == 1]
        assert len(good) == 2 and all(r["afp"] is not None for r in good)
        assert len(bad) == 1 and bad[0]["afp"] is None \
            and bad[0]["off_idx"] == -1


class TestPhashSpark:
    @pytest.fixture(scope="class")
    def media(self, spark):
        """4 docs: 0 = base, 1 = near-twin (one pixel), 2 = unrelated,
        3 = exact byte copy of 0."""
        base = _rand_img(42)
        twin = base.copy()
        twin[4, 4] = 1.0
        blobs = [
            mm.encode_ppm(base),
            mm.encode_ppm(twin),
            mm.encode_ppm(_rand_img(43)),
            mm.encode_ppm(base),
        ]
        return spark.createDataFrame(
            [(i, bytearray(b)) for i, b in enumerate(blobs)],
            "doc_id LONG, content BINARY",
        )

    def test_phash_images_matches_local_path(self, media):
        rows = {r["doc_id"]: (r["ahash"], r["dhash"])
                for r in mm.phash_images(media).collect()}
        base = _rand_img(42)
        assert rows[0] == (mm.ahash64(base), mm.dhash64(base))
        assert rows[3] == rows[0]

    def test_phash_quarantine_routes_corrupt_blobs(self, spark):
        """on_error='quarantine': a corrupt blob keeps its row with NULL
        hashes and the error class; good rows hash identically to the
        raise-mode path; default mode still fails loudly."""
        good = mm.encode_ppm(_rand_img(42))
        df = spark.createDataFrame(
            [(0, bytearray(good)), (1, bytearray(b"\x89PNGnotdecodable")),
             (2, bytearray(b""))],
            "doc_id LONG, content BINARY",
        )
        rows = {r["doc_id"]: r for r in
                mm.phash_images(df, on_error="quarantine").collect()}
        assert rows[0]["decode_error"] is None
        assert rows[0]["dhash"] == mm.dhash64(_rand_img(42))
        for bad in (1, 2):
            assert rows[bad]["ahash"] is None
            assert rows[bad]["dhash"] is None
            assert "NotImplementedError" in rows[bad]["decode_error"]
        with pytest.raises(Exception):
            mm.phash_images(df).collect()  # default: loud
        with pytest.raises(ValueError):
            mm.phash_images(df, on_error="skip")

    def test_hamming_pairs_find_planted_twins_only(self, media):
        sigs = mm.phash_images(media)
        pairs = {
            (r["doc_a"], r["doc_b"]): r["hamming"]
            for r in dd.hamming_neardup_pairs(
                sigs, "dhash", "doc_id", max_hamming=3
            ).collect()
        }
        assert set(pairs) == {(0, 1), (0, 3), (1, 3)}
        assert pairs[(0, 3)] == 0  # exact copy
        assert pairs[(0, 1)] <= 2  # planted twin

    def test_either_hash_union_gate(self, spark):
        """The union gate finds pairs either hash finds: a translated
        twin (dHash-far, aHash-near for this construction) and a
        rescaled twin (the reverse) both surface, and the result equals
        the union of the single-hash passes."""
        base = _rand_img(50, n=32)
        shifted = np.roll(base, 1, axis=1)  # aHash-recoverable
        resc = base[::2, ::2].repeat(2, 0).repeat(2, 1)  # dHash-ish twin
        blobs = [mm.encode_ppm(x) for x in
                 (base, shifted, resc, _rand_img(51, n=32))]
        df = spark.createDataFrame(
            [(i, bytearray(b)) for i, b in enumerate(blobs)],
            "doc_id LONG, content BINARY",
        )
        sigs = mm.phash_images(df).localCheckpoint()
        got = {(r.doc_a, r.doc_b) for r in dd.hamming_neardup_pairs_either(
            sigs, ["ahash", "dhash"], "doc_id", max_hamming=3).collect()}
        want = set()
        for c in ("ahash", "dhash"):
            want |= {(r.doc_a, r.doc_b) for r in dd.hamming_neardup_pairs(
                sigs, c, "doc_id", max_hamming=3).collect()}
        assert got == want
        assert all(3 not in p for p in got)  # the unrelated image stays out
        assert len(got) >= 1  # at least one twin class surfaced
        with pytest.raises(ValueError, match="sig_cols"):
            dd.hamming_neardup_pairs_either(sigs, [], "doc_id")

    def test_hamming_incremental_equals_full_on_batch_slice(self, spark):
        """The incremental contract shared by every ingestion tier:
        pairs from (store, batch) ≡ the full recompute over store ∪
        batch restricted to pairs with at least one batch member —
        new↔old and new↔new, never old↔old."""
        def sxor(a, b):
            v = (a ^ b) & ((1 << 64) - 1)
            return v - (1 << 64) if v >= 1 << 63 else v

        rng = np.random.default_rng(17)
        vals = rng.integers(-(1 << 62), 1 << 62, 40,
                            dtype=np.int64).tolist()
        # plant twins across the store/batch boundary and inside each
        vals[30] = sxor(vals[2], 0b11)     # batch↔store
        vals[31] = sxor(vals[30], 0b100)   # batch↔batch
        vals[5] = sxor(vals[4], 0b1)       # store↔store (excluded)
        sigs = spark.createDataFrame(
            [(i, int(v)) for i, v in enumerate(vals)],
            "doc_id LONG, sig LONG",
        )
        store, batch = sigs.where("doc_id < 30"), sigs.where("doc_id >= 30")
        incr = {
            (r["doc_a"], r["doc_b"], r["hamming"])
            for r in dd.hamming_incremental_pairs(
                store, batch, "sig", "doc_id", max_hamming=3
            ).collect()
        }
        full = {
            (r["doc_a"], r["doc_b"], r["hamming"])
            for r in dd.hamming_neardup_pairs(
                sigs, "sig", "doc_id", max_hamming=3
            ).collect()
            if r["doc_a"] >= 30 or r["doc_b"] >= 30
        }
        assert incr == full
        assert (2, 30, 2) in incr and (30, 31, 1) in incr
        assert all(a >= 30 or b >= 30 for a, b, _ in incr)

    def test_hamming_incremental_first_batch_no_store(self, spark):
        sigs = spark.createDataFrame(
            [(0, 5), (1, 4), (2, 5)], "doc_id LONG, sig LONG")
        got = {
            (r["doc_a"], r["doc_b"])
            for r in dd.hamming_incremental_pairs(
                None, sigs, "sig", "doc_id", max_hamming=3
            ).collect()
        }
        assert got == {(0, 1), (0, 2), (1, 2)}

    def test_hamming_pairs_exact_vs_allpairs_at_h3(self, spark):
        """Pigeonhole contract: with 16-bit quarters the blocked join at
        max_hamming=3 equals brute-force all-pairs + filter."""
        def sxor(a: int, b: int) -> int:  # xor in signed-64 space
            v = (a ^ b) & ((1 << 64) - 1)
            return v - (1 << 64) if v >= 1 << 63 else v

        rng = np.random.default_rng(9)
        sig_vals = rng.integers(-(1 << 62), 1 << 62, 64,
                                dtype=np.int64).tolist()
        # plant collisions: a few values within hamming 1-3 of others
        sig_vals[1] = sxor(sig_vals[0], 0b1)
        sig_vals[2] = sxor(sig_vals[0], 0b1010)
        sig_vals[5] = sxor(sig_vals[4], 1 << 63)  # sign-bit flip = dist 1
        sigs = spark.createDataFrame(
            [(i, int(v)) for i, v in enumerate(sig_vals)],
            "doc_id LONG, sig LONG",
        )
        got = {
            (r["doc_a"], r["doc_b"], r["hamming"])
            for r in dd.hamming_neardup_pairs(
                sigs, "sig", "doc_id", max_hamming=3
            ).collect()
        }
        want = set()
        for i in range(len(sig_vals)):
            for j in range(i + 1, len(sig_vals)):
                h = _ham(sig_vals[i], sig_vals[j])
                if h <= 3:
                    want.add((i, j, h))
        assert got == want


class TestVideoTier:
    def test_container_roundtrip(self):
        frames = [_rand_img(s, n=12) for s in (1, 2, 3)]
        blob = mm.encode_ppm_video(frames)
        back = mm.decode_video_frames(blob)
        assert len(back) == 3
        for a, b in zip(frames, back):
            assert np.allclose(a, b, atol=1 / 255)

    def test_truncated_and_foreign_streams_raise(self):
        blob = mm.encode_ppm_video([_rand_img(1, n=8)])
        with pytest.raises(NotImplementedError):
            mm.decode_video_frames(blob[:-10])
        with pytest.raises(NotImplementedError):
            mm.decode_video_frames(b"\x00\x01notppm")

    def test_fixture_family_shared_hash_structure(self):
        """m0–m1 share 3 of 4 sampled frame hashes (found at ≥2);
        m1–m2 share exactly the one overlaid frame (excluded); m0–m2
        share none."""
        def fhashes(d):
            frames = mm.decode_video_frames(mm.encode_ppm_video([
                mm.fixture_video_pixel_values(d, f).astype(np.float32)
                / 255.0 for f in range(mm.FIXTURE_VIDEO_FRAMES)]))
            return {mm.dhash64(frames[p]) for p in (1, 3, 5, 7)}

        for base in (0, 7):
            h0, h1, h2 = (fhashes(3 * base + m) for m in range(3))
            assert len(h0 & h1) == 3
            assert len(h1 & h2) == 1
            assert len(h0 & h2) == 0

    def test_spark_video_pairs(self, spark):
        docs = spark.range(0, 12).selectExpr("id AS doc_id")
        sigs = mm.video_fingerprints(
            mm.synthesize_fixture_videos(docs)).localCheckpoint()
        pairs = {(r.doc_a, r.doc_b): r.n_shared
                 for r in mm.video_neardup_pairs(sigs).collect()}
        for fam in range(4):
            assert pairs.get((3 * fam, 3 * fam + 1)) == 3
            assert (3 * fam, 3 * fam + 2) not in pairs
            assert (3 * fam + 1, 3 * fam + 2) not in pairs
        plan = mm.video_neardup_pairs(sigs)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_video_quarantine(self, spark):
        good = mm.encode_ppm_video([_rand_img(9, n=8)] * 2)
        df = spark.createDataFrame(
            [(0, bytearray(good)), (1, bytearray(b"AVI1notppm"))],
            "doc_id LONG, content BINARY",
        )
        rows = mm.video_fingerprints(df, on_error="quarantine").collect()
        good_rows = [r for r in rows if r["doc_id"] == 0]
        bad_rows = [r for r in rows if r["doc_id"] == 1]
        assert len(good_rows) == 4 and all(
            r["decode_error"] is None for r in good_rows)
        assert len(bad_rows) == 1 and bad_rows[0]["fhash"] is None
        assert bad_rows[0]["frame_idx"] == -1
        with pytest.raises(Exception):
            mm.video_fingerprints(df).collect()

        # a valid first frame then a 0×0 frame: the stream parses, and
        # dhash64 raises mid-object — the object is still ONE
        # quarantine row, never partial hashes next to it
        midway = mm.encode_ppm(_rand_img(9, n=8)) + b"P6\n0 0\n255\n"
        df2 = spark.createDataFrame(
            [(0, bytearray(good)), (2, bytearray(midway))],
            "doc_id LONG, content BINARY",
        )
        for fn, idx in ((mm.video_fingerprints, "frame_idx"),
                        (mm.video_union_fingerprints, "idx")):
            rows = fn(df2, on_error="quarantine").collect()
            bad_rows = [r for r in rows if r["doc_id"] == 2]
            assert len(bad_rows) == 1, fn.__name__
            assert bad_rows[0]["fhash"] is None
            assert bad_rows[0][idx] == -1
            assert "IndexError" in bad_rows[0]["decode_error"]
            assert all(r["decode_error"] is None
                       for r in rows if r["doc_id"] == 0)

    def test_video_incremental_equals_full_on_batch_slice(self, spark):
        docs = spark.range(0, 24).selectExpr("id AS doc_id")
        sigs = mm.video_fingerprints(
            mm.synthesize_fixture_videos(docs)).localCheckpoint()
        store = sigs.where("doc_id % 2 = 0")
        batch = sigs.where("doc_id % 2 = 1")
        incr = {(r.doc_a, r.doc_b, r.n_shared)
                for r in mm.video_incremental_pairs(
                    store, batch).collect()}
        batch_ids = {r.doc_id for r in
                     batch.select("doc_id").distinct().collect()}
        full = {(r.doc_a, r.doc_b, r.n_shared)
                for r in mm.video_neardup_pairs(sigs).collect()
                if r.doc_a in batch_ids or r.doc_b in batch_ids}
        assert incr == full and len(incr) > 0

    def test_video_stop_hash_guard_black_frames(self, spark):
        """The r12 verdict's one weak spot, pinned: a planted
        degenerate frame hash (every video's sampled frame 1 is
        uniform black → ONE dHash with document frequency = corpus
        size).  With the stop-hash cap the hot hash never enters the
        pair explosion — candidate fan-out stays linear and the pair
        set is the family structure; without the cap the black hash
        contributes a shared frame to EVERY pair (quadratic candidate
        mass, and variant-1↔variant-2 pairs spuriously clear
        min_shared)."""
        n = 30
        docs = spark.range(0, n).selectExpr("id AS doc_id")
        sigs = mm.video_fingerprints(mm.synthesize_fixture_videos(
            docs, pixel_fn=mm.fixture_video_pixel_values_bf)
        ).localCheckpoint()

        capped = {(r.doc_a, r.doc_b): r.n_shared
                  for r in mm.video_neardup_pairs(
                      sigs, max_hash_df=20).collect()}
        for fam in range(n // 3):
            m0, m1, m2 = 3 * fam, 3 * fam + 1, 3 * fam + 2
            assert capped.get((m0, m1), 0) >= 2
            assert (m0, m2) not in capped
            assert (m1, m2) not in capped

        uncapped = {(r.doc_a, r.doc_b): r.n_shared
                    for r in mm.video_neardup_pairs(
                        sigs, max_hash_df=None).collect()}
        # family 0's variant 1 (doc 1, overlay frame 3) now spuriously
        # pairs with variant 2 through the shared black frame
        assert uncapped.get((1, 2)) == 2
        assert uncapped[(0, 1)] == capped[(0, 1)] + 1  # black adds one

        # fan-out gate: pre-aggregation candidate rows are linear with
        # the cap, quadratic (≥ C(n,2) from the black bucket) without
        n_capped = mm.video_candidate_pairs(sigs, max_hash_df=20).count()
        n_open = mm.video_candidate_pairs(sigs, max_hash_df=None).count()
        assert n_capped <= 4 * n
        assert n_open >= n * (n - 1) // 2
        plan = mm.video_neardup_pairs(sigs, max_hash_df=20) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_video_incremental_cap_matches_full_on_batch_slice(
            self, spark):
        """Incremental contract under the stop-hash cap: the cap's df
        is computed over store ∪ batch, so the incremental result
        equals the capped full recompute restricted to batch-touching
        pairs — including the hot black hash being dropped on BOTH
        paths."""
        docs = spark.range(0, 24).selectExpr("id AS doc_id")
        sigs = mm.video_fingerprints(mm.synthesize_fixture_videos(
            docs, pixel_fn=mm.fixture_video_pixel_values_bf)
        ).localCheckpoint()
        store = sigs.where("doc_id % 2 = 0")
        batch = sigs.where("doc_id % 2 = 1")
        incr = {(r.doc_a, r.doc_b, r.n_shared)
                for r in mm.video_incremental_pairs(
                    store, batch, max_hash_df=16).collect()}
        batch_ids = {r.doc_id for r in
                     batch.select("doc_id").distinct().collect()}
        full = {(r.doc_a, r.doc_b, r.n_shared)
                for r in mm.video_neardup_pairs(
                    sigs, max_hash_df=16).collect()
                if r.doc_a in batch_ids or r.doc_b in batch_ids}
        assert incr == full and len(incr) > 0

    def test_shot_anchored_fingerprints(self, spark):
        """Shot anchors are content-locked: a head-trimmed twin keeps
        the SAME anchor hashes (the sampled tier's failure class —
        tools/video_recall.py), anchor indices shift by the trim, and
        a single-shot video falls back to its middle frame."""
        rng = np.random.default_rng(31)

        def shot(seed):
            base = (rng.integers(0, 256, (4, 4, 3)).repeat(4, 0)
                    .repeat(4, 1) + rng.integers(-12, 13, (16, 16, 3)))
            return [np.clip(base, 0, 255).astype(np.float32) / 255.0] * 6

        s1, s2, s3 = shot(1), shot(2), shot(3)
        full = s1 + s2 + s3
        trimmed = full[4:]  # drops most of shot 1, keeps both cuts
        single = s1
        df = spark.createDataFrame(
            [(0, bytearray(mm.encode_ppm_video(full))),
             (1, bytearray(mm.encode_ppm_video(trimmed))),
             (2, bytearray(mm.encode_ppm_video(single)))],
            "doc_id LONG, content BINARY",
        )
        rows = mm.video_fingerprints_shots(df).collect()
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r["doc_id"], []).append(r)
        # two cuts detected in both versions, same hashes, shifted idx
        assert {r["anchor_idx"] for r in by_doc[0]} == {6, 12}
        assert {r["anchor_idx"] for r in by_doc[1]} == {2, 8}
        assert ({r["fhash"] for r in by_doc[0]}
                == {r["fhash"] for r in by_doc[1]})
        # single-shot fallback: one middle-frame row
        assert len(by_doc[2]) == 1 and by_doc[2][0]["anchor_idx"] == 3
        # the anchors feed the standard pair gate: 0 and 1 pair at >=2
        pairs = {(r.doc_a, r.doc_b)
                 for r in mm.video_neardup_pairs(
                     mm.video_fingerprints_shots(df).localCheckpoint()
                 ).collect()}
        assert pairs == {(0, 1)}

    def test_video_fuzzy_pairs_gate(self, spark):
        """The fuzzy gate matches frame hashes within Hamming<=3 where
        the exact gate needs equality; the conservative least(a-side,
        b-side) count stops one frame matching two similar frames from
        inflating n_shared; the stop-hash cap still applies."""
        rows = [
            # videos 0/1: two frame hashes each, pairwise within H<=2
            (0, 0b1111000), (0, 1 << 40),
            (1, 0b1111011), (1, (1 << 40) | 6),
            # video 2: two hashes both near 0's FIRST hash only ->
            # least(1, 2) = 1 < min_shared
            (2, 0b1111001), (2, 0b1111010),
            # videos 3/4: a hot hash shared by everyone (df > cap)
            (3, 99), (4, 99), (0, 99), (1, 99), (2, 99),
        ]
        sigs = spark.createDataFrame(rows, "doc_id LONG, fhash LONG")
        exact = {(r.doc_a, r.doc_b)
                 for r in mm.video_neardup_pairs(
                     sigs, min_shared=2, max_hash_df=4).collect()}
        assert exact == set()  # nothing byte-identical twice
        fuzzy = {(r.doc_a, r.doc_b): r.n_shared
                 for r in mm.video_neardup_pairs_fuzzy(
                     sigs, min_shared=2, max_hamming=3,
                     max_hash_df=4).collect()}
        assert set(fuzzy) == {(0, 1)} and fuzzy[(0, 1)] == 2
        # without the cap the hot hash 99 gives everyone 1 exact match,
        # and (0,2)'s fuzzy matches become least(1+1, 2+1) = 2
        open_fuzzy = {(r.doc_a, r.doc_b)
                      for r in mm.video_neardup_pairs_fuzzy(
                          sigs, min_shared=2, max_hamming=3,
                          max_hash_df=None).collect()}
        assert (0, 2) in open_fuzzy
        # degenerates to the exact gate at max_hamming=0
        h0 = {(r.doc_a, r.doc_b, r.n_shared)
              for r in mm.video_neardup_pairs_fuzzy(
                  sigs, min_shared=2, max_hamming=0,
                  max_hash_df=4).collect()}
        assert h0 == set()

    def test_video_fuzzy_incremental_equals_full_on_batch_slice(
            self, spark):
        """Fuzzy incremental contract: (store, batch) pairs ≡ the full
        fuzzy recompute restricted to batch-touching pairs — including
        cross-boundary near-matches and the global stop-hash cap."""
        rng = np.random.default_rng(41)

        def sxor(a, b):
            v = (a ^ b) & ((1 << 64) - 1)
            return v - (1 << 64) if v >= 1 << 63 else v

        rows = []
        vals = rng.integers(-(1 << 62), 1 << 62, 30,
                            dtype=np.int64).tolist()
        for vid in range(10):
            # 3 frame hashes per video; twin videos (2k, 2k+1) share
            # two frame hashes within H<=2, never exactly
            base = vals[vid // 2 * 3: vid // 2 * 3 + 3]
            for j, h in enumerate(base):
                rows.append((vid, int(sxor(h, (vid % 2) * (3 << j)))))
        # a hot hash everyone shares (df 10 > cap 6)
        rows += [(vid, 777) for vid in range(10)]
        sigs = spark.createDataFrame(rows, "doc_id LONG, fhash LONG")
        store = sigs.where("doc_id < 6")
        batch = sigs.where("doc_id >= 6")
        incr = {(r.doc_a, r.doc_b, r.n_shared)
                for r in mm.video_incremental_pairs_fuzzy(
                    store, batch, min_shared=2, max_hamming=3,
                    max_hash_df=6).collect()}
        full = {(r.doc_a, r.doc_b, r.n_shared)
                for r in mm.video_neardup_pairs_fuzzy(
                    sigs, min_shared=2, max_hamming=3,
                    max_hash_df=6).collect()
                if r.doc_a >= 6 or r.doc_b >= 6}
        assert incr == full and len(incr) > 0
        # the store↔store twin (0,1) is excluded, the boundary/batch
        # twins are present
        assert all(a >= 6 or b >= 6 for a, b, _ in incr)
        first = {(r.doc_a, r.doc_b, r.n_shared)
                 for r in mm.video_incremental_pairs_fuzzy(
                     None, sigs, min_shared=2, max_hamming=3,
                     max_hash_df=6).collect()}
        assert first == {(r.doc_a, r.doc_b, r.n_shared)
                         for r in mm.video_neardup_pairs_fuzzy(
                             sigs, min_shared=2, max_hamming=3,
                             max_hash_df=6).collect()}

    def test_video_containment_short_in_long(self, spark):
        """A 2-hash clip cut from a 6-hash video: the symmetric
        near-dup gate at min_shared=3 misses it, containment >= 0.8
        finds it (2/2 of the SHORT side matched); an unrelated video
        stays out; denominators are post-cap."""
        rows = (
            # the long video: sparse and dense patterns, all pairwise
            # far (> 3 bits) from every other video's hashes
            [(0, int(h)) for h in (10, 200, 3000, 40000,
                                   0x5A5A5A5A, 0x33CC33CC)]
            + [(1, 201), (1, 3001)]                # clip, H=1 fuzz
            + [(2, 0xFF00FF00FF), (2, 0xAA55AA55AA55)]  # unrelated
            + [(i, 777) for i in range(3)]         # hot hash (capped)
        )
        sigs = spark.createDataFrame(rows, "doc_id LONG, fhash LONG")
        neardup = {(r.doc_a, r.doc_b)
                   for r in mm.video_neardup_pairs_fuzzy(
                       sigs, min_shared=3, max_hash_df=2).collect()}
        assert (0, 1) not in neardup
        got = {(r.doc_a, r.doc_b): r for r in
               mm.video_containment_pairs(
                   sigs, min_frac=0.8, max_hash_df=2).collect()}
        assert set(got) == {(0, 1)}
        r = got[(0, 1)]
        assert r.n_matched_b == 2 and abs(r.containment - 1.0) < 1e-9
        # without the cap, hash 777 inflates video 2's match side but
        # 1/3 of its hashes < 0.8 still keeps it out
        open_got = {(r.doc_a, r.doc_b)
                    for r in mm.video_containment_pairs(
                        sigs, min_frac=0.8, max_hash_df=None).collect()}
        assert (0, 2) not in open_got and (1, 2) not in open_got

    def test_video_fuzzy_gate_duckdb_cross_check(self, spark):
        """DuckDB mirror of the fuzzy gate on the closed-form fixture
        (the registration-ready oracle shape): re-derive the sampled
        frame dHashes from the pixel formulas (registry._video_duck_ctes
        — the same CTE the registered exact query uses), apply the cap
        and the all-pairs H≤3 least-side count, and match the Spark
        result exactly."""
        import duckdb

        from petropandas_spark.registry import _video_duck_ctes

        n = 45
        docs = spark.range(0, n).selectExpr("id AS doc_id")
        sigs = mm.video_fingerprints(
            mm.synthesize_fixture_videos(docs)).localCheckpoint()
        got = {(r.doc_a, r.doc_b, r.n_shared)
               for r in mm.video_neardup_pairs_fuzzy(
                   sigs, min_shared=2, max_hamming=3,
                   max_hash_df=10).collect()}
        con = duckdb.connect()
        con.execute(
            f"CREATE TABLE documents AS "
            f"SELECT unnest(generate_series(0, {n - 1}, 1)) AS doc_id")
        sql = f"""
WITH {_video_duck_ctes()},
vd AS (SELECT DISTINCT doc_id, fhash FROM vsigs),
vok AS (SELECT fhash FROM vd GROUP BY fhash HAVING COUNT(*) <= 10),
vk AS (SELECT vd.doc_id, vd.fhash FROM vd JOIN vok USING (fhash)),
m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.fhash AS sa, b.fhash AS sb
      FROM vk a JOIN vk b
        ON a.doc_id < b.doc_id
       AND bit_count(xor(a.fhash, b.fhash)) <= 3)
SELECT doc_a, doc_b,
       least(COUNT(DISTINCT sa), COUNT(DISTINCT sb)) AS n_shared
FROM m GROUP BY doc_a, doc_b
HAVING least(COUNT(DISTINCT sa), COUNT(DISTINCT sb)) >= 2
"""
        expect = {(a, b, int(s)) for a, b, s in con.execute(sql).fetchall()}
        assert got == expect and len(got) > 0

        # containment mirror on the same derivation: fraction of the
        # shorter side's capped hashes matched, rounded for FP parity
        got_c = {(r.doc_a, r.doc_b, r.n_matched_a, r.n_matched_b,
                  round(r.containment, 9))
                 for r in mm.video_containment_pairs(
                     sigs, min_frac=0.7, max_hamming=3,
                     max_hash_df=10).collect()}
        sql_c = f"""
WITH {_video_duck_ctes()},
vd AS (SELECT DISTINCT doc_id, fhash FROM vsigs),
vok AS (SELECT fhash FROM vd GROUP BY fhash HAVING COUNT(*) <= 10),
vk AS (SELECT vd.doc_id, vd.fhash FROM vd JOIN vok USING (fhash)),
vc AS (SELECT doc_id, COUNT(*) AS n FROM vk GROUP BY doc_id),
m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.fhash AS sa, b.fhash AS sb
      FROM vk a JOIN vk b
        ON a.doc_id < b.doc_id
       AND bit_count(xor(a.fhash, b.fhash)) <= 3),
pp AS (SELECT doc_a, doc_b,
              COUNT(DISTINCT sa) AS na, COUNT(DISTINCT sb) AS nb
       FROM m GROUP BY doc_a, doc_b)
SELECT doc_a, doc_b, na, nb,
       greatest(CAST(na AS DOUBLE) / ca.n, CAST(nb AS DOUBLE) / cb.n)
         AS containment
FROM pp JOIN vc ca ON ca.doc_id = pp.doc_a
        JOIN vc cb ON cb.doc_id = pp.doc_b
WHERE greatest(CAST(na AS DOUBLE) / ca.n, CAST(nb AS DOUBLE) / cb.n)
      >= 0.7
"""
        expect_c = {(a, b, int(na), int(nb), round(c, 9))
                    for a, b, na, nb, c in con.execute(sql_c).fetchall()}
        assert got_c == expect_c and len(got_c) > 0

    def test_shot_anchored_duckdb_cross_check(self, spark):
        """DuckDB mirror of video_fingerprints_shots on the closed-form
        fixture (registration-ready oracle shape): re-derive every
        frame's 8×8 grid from the pixel formulas, the inter-frame
        Σ|Δ| cut metric, the anchor set (> min_cut, middle-frame
        fallback), and the anchor dHashes."""
        import duckdb

        n_docs = 30
        docs = spark.range(0, n_docs).selectExpr("id AS doc_id")
        got = {(r.doc_id, r.anchor_idx, r.fhash)
               for r in mm.video_fingerprints_shots(
                   mm.synthesize_fixture_videos(docs)).collect()}
        con = duckdb.connect()
        con.execute(
            f"CREATE TABLE documents AS "
            f"SELECT unnest(generate_series(0, {n_docs - 1}, 1)) AS doc_id")

        def px(ch):
            # r·c cross term: the r14 de-aliased video fixture form
            return (f"((base*7919 + f*401 + r*(131 + base % 89) "
                    f"+ c*(17 + base % 101) + r*c*(7 + base % 13) "
                    f"+ c*f*(3 + base % 17) + {ch}*59 + pert) % 251)")

        pack = ("CAST(SUM(CASE WHEN bit = 1 AND b = 63 "
                "THEN -9223372036854775808 "
                "WHEN bit = 1 THEN (CAST(1 AS BIGINT) << b) "
                "ELSE 0 END) AS BIGINT)")
        dmap = ",".join(
            f"({gc},{src})"
            for gc, src in enumerate([0, 2, 4, 6, 8, 9, 11, 13, 15]))
        sql = f"""
WITH vg0 AS (
  SELECT doc_id, doc_id // 3 AS base, doc_id % 3 AS mm,
         ff.f, rr.r, cc.c
  FROM documents,
       (SELECT unnest(generate_series(0, 7, 1)) AS f) ff,
       (SELECT unnest(generate_series(0, 15, 1)) AS r) rr,
       (SELECT unnest(generate_series(0, 15, 1)) AS c) cc
),
vg1 AS (
  SELECT doc_id, base, f, r, c,
         CASE WHEN mm = 2 OR (mm = 1 AND f = 2 * (doc_id % 4) + 1)
              THEN ((r*31 + c*7) % 11) * 13 ELSE 0 END AS pert
  FROM vg0
),
cells AS (
  SELECT doc_id, f, r, c,
         299 * {px(0)} + 587 * {px(1)} + 114 * {px(2)} AS g
  FROM vg1
),
g8 AS (SELECT doc_id, f, r, c, g FROM cells
       WHERE r % 2 = 1 AND c % 2 = 1),
cuts AS (SELECT a.doc_id, a.f, SUM(ABS(a.g - p.g)) AS d
         FROM g8 a JOIN g8 p
           ON a.doc_id = p.doc_id AND p.f = a.f - 1
          AND a.r = p.r AND a.c = p.c
         GROUP BY a.doc_id, a.f),
detected AS (SELECT doc_id, f AS a FROM cuts WHERE d > 1000000),
anchors AS (
  SELECT doc_id, a FROM detected
  UNION ALL
  SELECT doc_id, 4 AS a FROM documents
  WHERE NOT EXISTS (SELECT 1 FROM detected x
                    WHERE x.doc_id = documents.doc_id)
),
dsel AS (SELECT c0.doc_id, c0.f, (c0.r-1)//2 AS gr, cm.gc, c0.g
         FROM cells c0
         JOIN anchors an ON an.doc_id = c0.doc_id AND an.a = c0.f
         JOIN (VALUES {dmap}) cm(gc, src) ON c0.c = cm.src
         WHERE c0.r % 2 = 1),
dbit AS (SELECT a.doc_id, a.f, a.gr*8 + a.gc AS b,
                CASE WHEN a.g > n.g THEN 1 ELSE 0 END AS bit
         FROM dsel a JOIN dsel n
           ON a.doc_id = n.doc_id AND a.f = n.f AND a.gr = n.gr
          AND n.gc = a.gc + 1)
SELECT doc_id, f AS anchor_idx, {pack} AS fhash
FROM dbit GROUP BY doc_id, f
"""
        expect = {(d, a, h) for d, a, h in con.execute(sql).fetchall()}
        assert got == expect and len(got) > 0

    def test_video_incremental_containment_equals_full(self, spark):
        """Ingest-time containment: (store, batch) result ≡ the full
        containment gate restricted to batch-touching pairs, with
        denominators over store ∪ batch."""
        rng = np.random.default_rng(47)
        rows = []
        for vid in range(12):
            base = rng.integers(-(1 << 62), 1 << 62,
                                6 if vid % 2 == 0 else 2,
                                dtype=np.int64)
            # odd videos are clips of the preceding even video (H=1)
            if vid % 2 == 1:
                prev = [r for r in rows if r[0] == vid - 1][:2]
                base = [p[1] ^ 1 for p in prev]
            rows += [(vid, int(h)) for h in base]
        sigs = spark.createDataFrame(rows, "doc_id LONG, fhash LONG")
        store = sigs.where("doc_id < 7")
        batch = sigs.where("doc_id >= 7")
        incr = {(r.doc_a, r.doc_b, round(r.containment, 9))
                for r in mm.video_incremental_containment(
                    store, batch, min_frac=0.8, max_hash_df=None
                ).collect()}
        full = {(r.doc_a, r.doc_b, round(r.containment, 9))
                for r in mm.video_containment_pairs(
                    sigs, min_frac=0.8, max_hash_df=None).collect()
                if r.doc_a >= 7 or r.doc_b >= 7}
        assert incr == full and len(incr) > 0
        first = {(r.doc_a, r.doc_b, round(r.containment, 9))
                 for r in mm.video_incremental_containment(
                     None, sigs, min_frac=0.8, max_hash_df=None
                 ).collect()}
        assert first == {(r.doc_a, r.doc_b, round(r.containment, 9))
                         for r in mm.video_containment_pairs(
                             sigs, min_frac=0.8,
                             max_hash_df=None).collect()}

    def test_fuzzy_h0_equals_exact_gate_randomized(self, spark):
        """Property: the fuzzy gate at max_hamming=0 is EXACTLY the
        exact gate — same pairs, same n_shared — on randomized
        signature sets with planted shared hashes (the degenerate-case
        contract both docstrings state)."""
        for seed in (3, 17):
            rng = np.random.default_rng(seed)
            rows = []
            for vid in range(20):
                own = rng.integers(-(1 << 62), 1 << 62, 4,
                                   dtype=np.int64)
                rows += [(vid, int(h)) for h in own]
            # plant shared hashes across random pairs
            shared = rng.integers(-(1 << 62), 1 << 62, 15,
                                  dtype=np.int64)
            for h in shared:
                a, b = rng.choice(20, 2, replace=False)
                rows += [(int(a), int(h)), (int(b), int(h))]
            sigs = spark.createDataFrame(rows, "doc_id LONG, fhash LONG")
            exact = {(r.doc_a, r.doc_b, r.n_shared)
                     for r in mm.video_neardup_pairs(
                         sigs, min_shared=1, max_hash_df=None).collect()}
            h0 = {(r.doc_a, r.doc_b, r.n_shared)
                  for r in mm.video_neardup_pairs_fuzzy(
                      sigs, min_shared=1, max_hamming=0,
                      max_hash_df=None).collect()}
            assert exact == h0 and len(exact) > 0

    def test_union_fingerprints_match_single_tier_derivations(self, spark):
        """video_union_fingerprints (one decode) reproduces EXACTLY the
        two single-tier artifacts: tier 0 ≡ video_fingerprints (slot →
        hash), tier 1 ≡ video_fingerprints_shots (anchor → hash)."""
        docs = spark.range(0, 12).selectExpr("id AS doc_id")
        vids = mm.synthesize_fixture_videos(docs).localCheckpoint()
        u = mm.video_union_fingerprints(vids).localCheckpoint()
        t0 = {(r.doc_id, r.idx, r.fhash)
              for r in u.where("tier = 0").collect()}
        t1 = {(r.doc_id, r.idx, r.fhash)
              for r in u.where("tier = 1").collect()}
        sampled = {(r.doc_id, r.frame_idx, r.fhash)
                   for r in mm.video_fingerprints(vids).collect()}
        shots = {(r.doc_id, r.anchor_idx, r.fhash)
                 for r in mm.video_fingerprints_shots(vids).collect()}
        assert t0 == sampled and t1 == shots
        # quarantine contract: one NULL row, tier -1
        bad = spark.createDataFrame(
            [(99, bytearray(b"notvideo"))], "doc_id LONG, content BINARY")
        rows = mm.video_union_fingerprints(
            bad, on_error="quarantine").collect()
        assert len(rows) == 1 and rows[0].tier == -1 \
            and rows[0].fhash is None

    def test_union_gate_equals_union_of_tier_gates(self, spark):
        """video_neardup_pairs_union ≡ per-tier fuzzy gates unioned
        with n_shared = greatest over fired tiers, and the incremental
        twin ≡ the full union restricted to batch-touching pairs."""
        docs = spark.range(0, 15).selectExpr("id AS doc_id")
        vids = mm.synthesize_fixture_videos(docs).localCheckpoint()
        u = mm.video_union_fingerprints(vids).localCheckpoint()
        got = {(r.doc_a, r.doc_b, r.n_shared)
               for r in mm.video_neardup_pairs_union(
                   u, min_shared=1).collect()}
        expect: dict = {}
        for t in (0, 1):
            for r in mm.video_neardup_pairs_fuzzy(
                    u.where(f"tier = {t}"), min_shared=1).collect():
                k = (r.doc_a, r.doc_b)
                expect[k] = max(expect.get(k, 0), r.n_shared)
        assert got == {(a, b, n) for (a, b), n in expect.items()}
        assert len(got) > 0
        store = u.where("doc_id < 9")
        batch = u.where("doc_id >= 9")
        incr = {(r.doc_a, r.doc_b, r.n_shared)
                for r in mm.video_incremental_pairs_union(
                    store, batch, min_shared=1).collect()}
        assert incr == {(a, b, n) for (a, b, n) in got
                        if a >= 9 or b >= 9}

    def test_video_stop_hash_observability(self, spark):
        """video_stop_hashes names exactly what the cap removes;
        video_hash_df_histogram carries the df tail."""
        rows = [(i, 7) for i in range(6)] + [(0, 11), (1, 13)]
        sigs = spark.createDataFrame(rows, "doc_id LONG, fhash LONG")
        stopped = {(r.fhash, r.df) for r in
                   mm.video_stop_hashes(sigs, max_hash_df=4).collect()}
        assert stopped == {(7, 6)}
        hist = {r["df"]: r["n_hashes"] for r in
                mm.video_hash_df_histogram(sigs).collect()}
        assert hist == {6: 1, 1: 2}

    def test_video_incremental_first_batch_no_store(self, spark):
        docs = spark.range(0, 6).selectExpr("id AS doc_id")
        sigs = mm.video_fingerprints(
            mm.synthesize_fixture_videos(docs)).localCheckpoint()
        incr = {(r.doc_a, r.doc_b)
                for r in mm.video_incremental_pairs(None, sigs).collect()}
        full = {(r.doc_a, r.doc_b)
                for r in mm.video_neardup_pairs(sigs).collect()}
        assert incr == full

    def test_quarantined_rows_never_pair(self, spark):
        """NULL signatures (quarantine mode) are filtered before the
        quarter blocking — corrupt objects can neither pair with each
        other nor inflate a bucket."""
        sigs = spark.createDataFrame(
            [(0, 7), (1, 7), (2, None), (3, None)],
            "doc_id LONG, sig LONG",
        )
        got = {(r.doc_a, r.doc_b) for r in dd.hamming_neardup_pairs(
            sigs, "sig", "doc_id", max_hamming=3).collect()}
        assert got == {(0, 1)}
        incr = {(r.doc_a, r.doc_b) for r in dd.hamming_incremental_pairs(
            sigs.where("doc_id < 2"), sigs.where("doc_id >= 2"),
            "sig", "doc_id", max_hamming=3).collect()}
        assert incr == set()

    def test_block_occupancy_histogram(self, spark):
        """Occupancy histogram sums to 4·n_signatures block entries and
        flags a planted degenerate cluster in its tail."""
        rng = np.random.default_rng(31)
        vals = rng.integers(-(1 << 62), 1 << 62, 20,
                            dtype=np.int64).tolist()
        vals += [7] * 12  # degenerate: 12 identical signatures
        sigs = spark.createDataFrame(
            [(i, int(v)) for i, v in enumerate(vals)],
            "doc_id LONG, sig LONG",
        )
        hist = {r.occupancy: r.n_buckets
                for r in dd.hamming_block_occupancy(
                    sigs, "sig", "doc_id").collect()}
        assert sum(o * n for o, n in hist.items()) == 4 * len(vals)
        assert hist.get(12, 0) >= 4  # the planted cluster's 4 quarters


def _s64(v: int) -> int:
    """Unsigned 64-bit pattern → the signed long Spark stores."""
    v &= (1 << 64) - 1
    return v - (1 << 64) if v >= 1 << 63 else v


def _flip(v: int, *bits: int) -> int:
    return _s64(v ^ sum(1 << b for b in bits))


class TestDirtySignatures:
    """Every Hamming tier runs on one quarter-blocked matcher; this pins
    it against a Python all-pairs reference on the inputs real stores
    carry: bit-63 (negative) signatures, NULL signatures, and ids with
    several signatures (multi-offset audio, per-frame video hashes)."""

    @staticmethod
    def _rows():
        rng = np.random.default_rng(23)
        base = [int(v) for v in rng.integers(
            -(1 << 63), (1 << 63) - 1, 24, dtype=np.int64)]
        base[9] = _flip(base[8], 0, 17, 40)     # H = 3: at the gate
        base[11] = _flip(base[10], 63)          # sign bit only: H = 1
        base[14] = _flip(base[13], 1, 2, 3, 4)  # H = 4: outside
        rows = [(i, v) for i, v in enumerate(base)]
        rows += [
            (3, _flip(base[7], 5, 63)),   # second signature near id 7
            (5, _flip(base[5], 9)),       # two signatures of one id
            (12, _flip(base[12], 63)),    # ... differing in bit 63
            (20, _flip(base[2], 30)),     # batch id near a store id
            (21, _flip(base[20], 44)),    # batch↔batch
            (15, _flip(base[1], 0, 63)),  # batch id near a store id
            (3, None), (24, None), (25, None),
        ]
        assert any(v < 0 for _, v in rows if v is not None)
        return rows

    @staticmethod
    def _ref_pairs(rows):
        out = set()
        for x, (i, a) in enumerate(rows):
            for j, b in rows[x + 1:]:
                if a is None or b is None or i == j:
                    continue
                h = _ham(a, b)
                if h <= 3:
                    out.add((min(i, j), max(i, j), h))
        return out

    @staticmethod
    def _ref_shared(rows):
        sigs = {}
        for i, v in rows:
            if v is not None:
                sigs.setdefault(i, set()).add(v)
        out = set()
        for i in sigs:
            for j in sigs:
                if i >= j:
                    continue
                ma = {a for a in sigs[i]
                      if any(_ham(a, b) <= 3 for b in sigs[j])}
                mb = {b for b in sigs[j]
                      if any(_ham(a, b) <= 3 for a in sigs[i])}
                if ma:
                    out.add((i, j, min(len(ma), len(mb))))
        return out

    def test_dirty_signatures_match_allpairs_reference(self, spark):
        rows = self._rows()
        sigs = spark.createDataFrame(rows, "doc_id LONG, fhash LONG")
        store, batch = sigs.where("doc_id < 12"), sigs.where("doc_id >= 12")

        def touches_batch(p):
            return p[0] >= 12 or p[1] >= 12

        want = self._ref_pairs(rows)
        assert {(8, 9, 3), (10, 11, 1), (3, 7, 2)} <= want
        assert not any(a == b for a, b, _ in want)

        def triples(df):
            return {(r.doc_a, r.doc_b, r.hamming) for r in df.collect()}

        assert triples(dd.hamming_neardup_pairs(
            sigs, "fhash", "doc_id", max_hamming=3)) == want
        assert triples(dd.hamming_incremental_pairs(
            None, sigs, "fhash", "doc_id", max_hamming=3)) == want
        assert triples(dd.hamming_incremental_pairs(
            store, batch, "fhash", "doc_id", max_hamming=3)) == \
            {p for p in want if touches_batch(p)}

        shared = self._ref_shared(rows)

        def shares(df):
            return {(r.doc_a, r.doc_b, r.n_shared) for r in df.collect()}

        assert shares(mm.video_neardup_pairs_fuzzy(
            sigs, min_shared=1, max_hamming=3, max_hash_df=None)) == shared
        assert shares(mm.video_incremental_pairs_fuzzy(
            store, batch, min_shared=1, max_hamming=3,
            max_hash_df=None)) == {p for p in shared if touches_batch(p)}
