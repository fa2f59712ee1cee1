"""Streaming dedup operators: exact first-wins via native streaming
dropDuplicates (state survives micro-batches), near-dup suppression via
applyInPandasWithState, and batch/stream SimHash identity."""

from __future__ import annotations

from pyspark.sql import functions as F

from osm2geojson_lite_spark.streaming.dedup import (
    simhash_py,
    stream_exact_dedup,
    stream_near_dedup,
)


def _write_docs(spark, path, rows, mode="overwrite"):
    spark.createDataFrame(rows, "doc_id string, text string").coalesce(1).write.mode(
        mode
    ).parquet(path)


def test_stream_exact_dedup_across_batches(spark, tmp_path):
    inp, outp, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    _write_docs(spark, inp, [
        ("a", "the quick brown fox"),
        ("b", "совершенно unrelated text body"),
        ("c", "THE  Quick   Brown Fox"),  # same normalized fingerprint as a
    ])
    q = stream_exact_dedup(spark, inp, outp, ckpt)
    q.awaitTermination(120)
    first = {r["doc_id"] for r in spark.read.parquet(outp).collect()}
    assert len(first) == 2 and "b" in first and len(first & {"a", "c"}) == 1

    # second micro-batch: an inter-batch duplicate of 'a' must be dropped
    # by the persisted state store, a fresh doc must pass
    _write_docs(spark, inp, [
        ("d", "the quick brown fox"),
        ("e", "a genuinely new document"),
    ], mode="append")
    q2 = stream_exact_dedup(spark, inp, outp, ckpt)
    q2.awaitTermination(120)
    final = {r["doc_id"] for r in spark.read.parquet(outp).collect()}
    assert "e" in final and "d" not in final
    assert len(final) == 3


def test_stream_near_dedup_buckets_and_state(spark, tmp_path):
    inp, outp, ckpt = (str(tmp_path / d) for d in ("nin", "nout", "nckpt"))
    base = "the quick brown fox jumps over the lazy dog again and again"
    # suffixes chosen to stay in a1's prefix bucket (verified: ' qq' ham=5,
    # ' pp' ham=2 from base); ' zz' flips a prefix bit and demonstrates the
    # documented single-pass blocking miss
    _write_docs(spark, inp, [
        ("a1", base),
        ("a2", base + " qq"),  # near-dup of a1, same bucket
        ("b1", "completely different content about spark catalyst optimizer internals"),
        ("z1", base + " zz"),  # near-dup content but different prefix bucket
    ])
    q = stream_near_dedup(spark, inp, outp, ckpt, max_hamming=6)
    q.awaitTermination(120)
    rows = {r["doc_id"]: r["is_duplicate_of"]
            for r in spark.read.parquet(outp).collect()}
    assert rows["a1"] is None  # first wins (doc_id order within batch)
    assert rows["a2"] == "a1"
    assert rows["b1"] is None
    assert rows["z1"] is None  # single-pass blocking miss (different bucket)

    # across micro-batches: state remembers a1
    _write_docs(spark, inp, [("a3", base + " pp")], mode="append")
    q2 = stream_near_dedup(spark, inp, outp, ckpt, max_hamming=6)
    q2.awaitTermination(120)
    rows2 = {r["doc_id"]: r["is_duplicate_of"]
             for r in spark.read.parquet(outp).collect()}
    assert rows2["a3"] == "a1"


def test_simhash_py_matches_batch_operator(spark):
    from osm2geojson_lite_spark.pipeline import simhash

    rows = [
        ("x", "the quick brown fox"),
        ("y", "numbers 123 and punct !?"),
        ("z", ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    batch = {r["doc_id"]: r["simhash"] for r in simhash(docs, bits=48).collect()}
    for doc_id, text in rows:
        assert batch[doc_id] == simhash_py(text, 48), doc_id


def test_stream_near_dedup_rotations_catch_prefix_miss(spark, tmp_path):
    """A planted near-dup pair differing ONLY inside the top prefix window:
    missed at rotations=1 (documented blocking miss), caught at rotations=2
    because the second pass blocks on the low bit window."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def planted_fp(text):
        return text.map(int)  # doc text IS the fingerprint

    fp_a = 0x0000F0F0F0F0
    fp_b = fp_a ^ (1 << 45)  # 1 bit apart, inside the top-8 window (40..47)

    for rotations, expect_dup in ((1, None), (2, "fa")):
        d = f"rot{rotations}"
        inp, outp, ckpt = (str(tmp_path / (d + s)) for s in ("in", "out", "ck"))
        _write_docs(spark, inp, [("fa", str(fp_a)), ("fb", str(fp_b))])
        q = stream_near_dedup(spark, inp, outp, ckpt, max_hamming=3,
                              rotations=rotations, fingerprint_udf=planted_fp)
        q.awaitTermination(120)
        rows = {r["doc_id"]: r["is_duplicate_of"]
                for r in spark.read.parquet(outp).collect()}
        assert rows["fa"] is None, rotations
        assert rows["fb"] == expect_dup, rotations


def test_pass_shifts_layout():
    from osm2geojson_lite_spark.streaming.dedup import pass_shifts

    assert pass_shifts(48, 8, 1) == [40]
    assert pass_shifts(48, 8, 2) == [40, 0]
    assert pass_shifts(48, 8, 3) == [40, 20, 0]
    assert all(0 <= s <= 40 for s in pass_shifts(48, 8, 5))


class _FakeState:
    """Minimal GroupState stand-in for driving the update fn directly."""

    def __init__(self, value=None):
        self._value = value

    @property
    def exists(self):
        return self._value is not None

    @property
    def get(self):
        return self._value

    def update(self, value):
        self._value = value


def _run_update(update, rows, state):
    import pandas as pd

    pdf = pd.DataFrame({"doc_id": [r[0] for r in rows],
                        "simhash": [r[1] for r in rows]})
    return list(update((0,), [pdf], state))[0]


def test_near_dedup_scan_parity_with_python_loop():
    """The vectorized XOR+popcount state scan must return exactly what the
    round-3 per-fingerprint Python loop returned — same first-wins kept
    set, same dup anchors — on a randomized workload with planted dups."""
    import random

    from osm2geojson_lite_spark.streaming.dedup import _make_near_update

    rng = random.Random(7)
    rows = []
    for i in range(400):
        fp = rng.getrandbits(48)
        rows.append((f"d{i:04d}", fp))
        if i % 7 == 0:  # planted near-dup: flip <=3 bits
            flipped = fp
            for b in rng.sample(range(48), rng.randint(0, 3)):
                flipped ^= 1 << b
            rows.append((f"p{i:04d}", flipped))
    # include a negative int64 fingerprint (custom fingerprint_udf surface)
    rows.append(("neg", -(1 << 62)))
    rows.append(("negdup", -(1 << 62) ^ 0b11))

    def python_loop(rows):
        kept, out = [], {}
        for doc_id, fp in sorted(rows):
            dup = next((kid for kid, kfp in kept
                        if bin(fp ^ kfp).count("1") <= 3), None)
            if dup is None:
                kept.append((doc_id, fp))
            out[doc_id] = dup
        return out

    state = _FakeState()
    got_pdf = _run_update(_make_near_update(3), rows, state)
    got = dict(zip(got_pdf["doc_id"], got_pdf["is_duplicate_of"]))
    got = {k: (None if v is None else v) for k, v in got.items()}
    assert got == python_loop(rows)
    # round-trip: state holds int64s that reconstruct the same fingerprints
    ids, fps, n_evicted = state.get
    assert n_evicted == 0
    got2 = _run_update(_make_near_update(3), [("zzz", rows[0][1])], state)
    assert got2["is_duplicate_of"].tolist() == [rows[0][0]]


def test_near_dedup_bucket_scan_flat_at_1e5():
    """Micro-bench (VERDICT r3 #5 acceptance): per-batch time against a
    10^5-fingerprint bucket stays in the same order as against 10^4 —
    the interpreted loop was ~100x slower per element and blew this bound."""
    import random
    import time

    from osm2geojson_lite_spark.streaming.dedup import _make_near_update

    rng = random.Random(11)

    def batch_time(state_size: int) -> float:
        ids = [f"s{i}" for i in range(state_size)]
        fps = [rng.getrandbits(48) for i in range(state_size)]
        state = _FakeState((ids, fps, 0))
        probe = [(f"q{i}", rng.getrandbits(48)) for i in range(100)]
        upd = _make_near_update(3)
        t0 = time.perf_counter()
        _run_update(upd, probe, state)
        return time.perf_counter() - t0

    batch_time(10_000)  # warm numpy
    t_small, t_big = batch_time(10_000), batch_time(100_000)
    # 10x the state must cost well under 30x the time (linear-with-small-
    # constant; the Python loop costs ~10x here but with a constant ~100x
    # larger — at 0.5s+ per 100-doc batch it fails real streams)
    assert t_big < 1.5, f"100k-bucket batch took {t_big:.2f}s"
    assert t_big / max(t_small, 1e-6) < 30


def test_near_dedup_bucket_cap_evicts_fifo():
    """max_bucket_state: the oldest anchor is evicted, the eviction is
    counted, and the doc that matched only the evicted anchor is kept."""
    from osm2geojson_lite_spark.streaming.dedup import _make_near_update

    upd = _make_near_update(0, max_bucket_state=2)
    state = _FakeState()
    # distinct fingerprints (hamming > 0 apart): a, b, c -> c's arrival
    # evicts a
    _run_update(upd, [("a", 0b0001), ("b", 0b0110), ("c", 0b1000)], state)
    ids, fps, n_evicted = state.get
    assert ids == ["b", "c"]
    assert n_evicted == 1
    # an exact dup of the evicted anchor is now (observably) kept again
    out = _run_update(upd, [("a2", 0b0001)], state)
    assert out["is_duplicate_of"].tolist() == [None]
    assert out["n_evicted"].tolist() == [2]  # a2's arrival evicted b


def test_pass_shifts_deduplicated():
    """ADVICE r3: rotations beyond the distinct-window count must not
    produce duplicate passes."""
    from osm2geojson_lite_spark.streaming.dedup import pass_shifts

    s = pass_shifts(8, 6, 5)  # only 3 distinct windows exist (shifts 0..2)
    assert len(s) == len(set(s))
    assert set(s) <= set(range(0, 3))
    assert pass_shifts(48, 8, 3) == [40, 20, 0]
    assert pass_shifts(48, 8, 1) == [40]
