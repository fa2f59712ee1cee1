"""Round-4 regression tests: ANN retrieval quality (VERDICT r3 #1) —
multi-table sign-LSH, farthest-point-seeded k-means IVF, and spilled
(redundant multi-assignment) IVF — plus the ADVICE-r3 zero-norm guard."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from osm2geojson_lite_spark.pipeline.similarity import (
    _assign_cid,
    brute_force_topk,
    hamming_masks,
    ivf_topk,
    kmeans_centroids,
    recall_at_k,
    sign_lsh_multi_topk,
    sign_lsh_topk,
)

from .conftest import needs_reference

EMB = "/root/testdata/sf0.01/embeddings.parquet"


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(EMB).persist()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def heldout_queries(emb):
    # disjoint from every quantizer's centroid choices (lowest-id uses
    # vec_id < 16; the k-means sample is hash-ordered but queries that ARE
    # index seed points bias recall upward — see tools/ann_recall_table.py)
    return emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 116)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def _mean_recall(approx, exact) -> float:
    row = (
        recall_at_k(approx, exact)
        .agg(F.avg("recall_at_k").alias("r"))
        .collect()[0]
    )
    return float(row["r"])


def test_hamming_masks_counts_and_uniqueness():
    m = hamming_masks(8, 2)
    assert len(m) == 1 + 8 + 28  # C(8,0)+C(8,1)+C(8,2)
    assert len(set(m)) == len(m)
    assert m[0] == 0
    assert all(bin(x).count("1") <= 2 for x in m)
    # deterministic (popcount, combination) order
    assert m == hamming_masks(8, 2)


def test_multi_table_lsh_beats_single_table(emb, heldout_queries):
    """The round-4 fix: candidate union over 4 independent tables must
    recall strictly better than any single-table config on the held-out
    panel, and clear the >=0.8 bar the verdict set."""
    exact = brute_force_topk(heldout_queries, emb, k=10).persist()
    exact.count()
    single = _mean_recall(
        sign_lsh_topk(heldout_queries, emb, k=10, code_bits=8), exact
    )
    multi = _mean_recall(
        sign_lsh_multi_topk(
            heldout_queries, emb, k=10, code_bits=8, n_tables=4, hamming=2
        ),
        exact,
    )
    exact.unpersist()
    assert multi > single
    assert multi >= 0.8


def test_multi_table_lsh_rank_contract(emb, heldout_queries):
    out = sign_lsh_multi_topk(heldout_queries, emb, k=5).collect()
    by_q: dict = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), q
        assert len(ranks) <= 5
    # self-match: every query vector is its own nearest neighbor and always
    # collides with itself in every table
    top1 = {r["query_id"]: r["neighbor_id"] for r in out if r["rank"] == 1}
    assert all(q == n for q, n in top1.items())


def test_kmeans_beats_lowest_id_on_heldout(emb, heldout_queries):
    """VERDICT r3 #1 acceptance: trained IVF >= untrained lowest-id IVF at
    the default probe count on the unbiased (held-out) panel."""
    cents = kmeans_centroids(emb, n_centroids=16, n_iters=20,
                             sample_size=512, seed=0)
    exact = brute_force_topk(heldout_queries, emb, k=10).persist()
    exact.count()
    base = _mean_recall(
        ivf_topk(heldout_queries, emb, k=10, n_centroids=16, n_probe=4), exact
    )
    trained = _mean_recall(
        ivf_topk(heldout_queries, emb, k=10, n_probe=4, centroids=cents), exact
    )
    spilled = _mean_recall(
        ivf_topk(heldout_queries, emb, k=10, n_probe=4, centroids=cents,
                 spill=2),
        exact,
    )
    exact.unpersist()
    assert trained >= base
    assert spilled >= trained  # redundant assignment can only add candidates


def test_ivf_spill_candidates_superset(emb, heldout_queries):
    """spill=2 assignment is a strict superset of spill=1: every (vector,
    primary-list) pair survives, plus one secondary list per vector."""
    cents = kmeans_centroids(emb, n_centroids=16, n_iters=20,
                             sample_size=512, seed=0)
    a1 = {
        (r["neighbor_id"], r["cid"])
        for r in _assign_cid(emb, cents).collect()
    }
    a2 = {
        (r["neighbor_id"], r["cid"])
        for r in _assign_cid(emb, cents, spill=2).collect()
    }
    assert a1 <= a2
    n_vecs = emb.count()
    assert len(a1) == n_vecs
    assert len(a2) == 2 * n_vecs


def test_kmeans_zero_norm_guard(spark):
    """ADVICE r3: an all-zero sample vector must not poison training with
    NaN cosines — centroids stay finite and the zero vector scores cosine
    0 against everything instead of being argmax-dumped into centroid 0."""
    import math

    rows = [(i, [float((i * 7 + j) % 5 - 2) for j in range(8)])
            for i in range(40)]
    rows[3] = (3, [0.0] * 8)  # zero-norm vector inside the sample
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = kmeans_centroids(df, n_centroids=4, n_iters=5, sample_size=40,
                             seed=0)
    assert all(math.isfinite(x) for cv in cents for x in cv)


def _span_docs(spark, payloads: dict[str, str]):
    from osm2geojson_lite_spark.sources.synth import SPAN_SCHEMA

    rows = [
        (doc_id, [{"kind": "text", "text": p, "media_ref": None, "offset": 0}])
        for doc_id, p in payloads.items()
    ]
    return spark.createDataFrame(rows, SPAN_SCHEMA)


def _mega_relation_json(n_nodes: int) -> str:
    import json as _json

    els = [
        {"type": "node", "id": i, "lat": float(i % 90), "lon": float(i % 180)}
        for i in range(1, n_nodes + 1)
    ]
    els.append({
        "type": "relation", "id": 9000,
        "members": [{"type": "node", "ref": i, "role": ""}
                    for i in range(1, n_nodes + 1)],
        "tags": {"type": "multipolygon"},
    })
    return _json.dumps({"elements": els})


def test_mega_doc_instances_fail(spark):
    """SURVEY §7 hard part 5: a document over max_doc_instances is an
    explicit refusal under the default policy, never a task OOM."""
    import json as _json

    from osm2geojson_lite_spark import MegaDocumentError, Options, convert

    big = _json.dumps({"elements": [
        {"type": "node", "id": i, "lat": 1.0, "lon": 2.0} for i in range(50)
    ]})
    docs = _span_docs(spark, {"mega": big})
    with pytest.raises(MegaDocumentError, match="max_doc_instances"):
        convert(docs, Options(complete_feature=True, max_doc_instances=20))


def test_mega_doc_instances_skip(spark):
    """Policy 'skip': the oversized doc is dropped (empty FeatureCollection
    in complete mode), normal docs are unaffected, and the skip is
    reported through build_features."""
    import json as _json

    from osm2geojson_lite_spark import CacheScope, Options, build_features, convert

    big = _json.dumps({"elements": [
        {"type": "node", "id": i, "lat": 1.0, "lon": 2.0} for i in range(50)
    ]})
    small = _json.dumps({"elements": [
        {"type": "node", "id": 1, "lat": 3.0, "lon": 4.0,
         "tags": {"name": "ok"}},
    ]})
    docs = _span_docs(spark, {"mega": big, "normal": small})
    opts = Options(complete_feature=True, max_doc_instances=20,
                   mega_doc_policy="skip")

    with CacheScope() as scope:
        parts = build_features(docs, opts, scope=scope)
        assert parts["skipped_docs"] == ["mega"]
        out = {r["doc_id"]: _json.loads(r["geojson"])
               for r in convert(docs, opts).collect()}
    assert len(out["mega"]["features"]) == 0
    assert len(out["normal"]["features"]) == 1


def test_mega_relation_group_fail(spark):
    """The relation kernel's per-group input row count is capped: a
    super-relation whose closure x members product blows the cap refuses
    with the (doc, root) named."""
    from osm2geojson_lite_spark import MegaDocumentError, Options, convert

    docs = _span_docs(spark, {"megarel": _mega_relation_json(30)})
    with pytest.raises(MegaDocumentError, match="max_relation_group_rows"):
        convert(docs, Options(complete_feature=True,
                              max_relation_group_rows=10))


def test_mega_relation_group_skip(spark):
    """Policy 'skip' drops only the oversized relation GROUP — the doc's
    other features (untagged member nodes are consumed, but the relation
    row itself disappears) and other docs still emit."""
    import json as _json

    from osm2geojson_lite_spark import Options, convert

    docs = _span_docs(spark, {"megarel": _mega_relation_json(30)})
    out_normal = {r["doc_id"]: _json.loads(r["geojson"])
                  for r in convert(docs, Options(complete_feature=True)).collect()}
    # uncapped: the relation emits (MultiPoint-less geometry aside, >=1 feature)
    assert len(out_normal["megarel"]["features"]) >= 1

    out = {r["doc_id"]: _json.loads(r["geojson"])
           for r in convert(docs, Options(
               complete_feature=True, max_relation_group_rows=10,
               mega_doc_policy="skip")).collect()}
    rel_feats = [f for f in out["megarel"]["features"]
                 if str(f.get("id", "")).startswith("relation")]
    assert rel_feats == []


@needs_reference
def test_default_caps_do_not_trigger(spark):
    """The default caps are far above any real fixture: fixture conversion
    output is byte-identical with bounds on vs off."""
    from osm2geojson_lite_spark import Options, convert
    from osm2geojson_lite_spark.sources.synth import fixture_documents

    docs = fixture_documents(spark).filter(
        "doc_id in ('relation.json', 'map.osm', 'route.osm')"
    ).persist()
    on = {r["doc_id"]: r["geojson"]
          for r in convert(docs, Options(complete_feature=True)).collect()}
    off = {r["doc_id"]: r["geojson"]
           for r in convert(docs, Options(
               complete_feature=True, max_doc_instances=None,
               max_relation_group_rows=None)).collect()}
    docs.unpersist()
    assert on == off


def _offset_gif(screen_w, screen_h, left, top, frame):
    """Hand-built GIF89a: logical screen (screen_w, screen_h), one frame of
    ``frame`` (h, w, 3) placed at (left, top) — the spec-valid sub-frame
    shape the decoder previously mispositioned (ADVICE r3)."""
    import struct as _struct

    import numpy as np

    from osm2geojson_lite_spark.pipeline.multimodal import _lzw_encode

    h, w, _ = frame.shape
    colors, inverse = np.unique(frame.reshape(-1, 3), axis=0,
                                return_inverse=True)
    ct_bits = max(1, int(len(colors) - 1).bit_length())
    ct = np.zeros((1 << ct_bits, 3), np.uint8)
    ct[: len(colors)] = colors
    min_size = max(2, ct_bits)
    lzw = _lzw_encode(inverse.astype(np.uint8).tobytes(), min_size)
    blocks = bytearray()
    for i in range(0, len(lzw), 255):
        chunk = lzw[i:i + 255]
        blocks.append(len(chunk))
        blocks.extend(chunk)
    blocks.append(0)
    bg_index = 0
    return (b"GIF89a"
            + _struct.pack("<HHBBB", screen_w, screen_h,
                           0x80 | (ct_bits - 1), bg_index, 0)
            + ct.tobytes()
            + b"\x2C" + _struct.pack("<HHHHB", left, top, w, h, 0)
            + bytes([min_size]) + bytes(blocks)
            + b"\x3B")


def test_gif_offset_frame_composited():
    """A frame smaller than the logical screen decodes to the SCREEN size
    with the frame at (left, top) and background color elsewhere."""
    import numpy as np

    from osm2geojson_lite_spark.pipeline.multimodal import decode_gif_pixels

    frame = np.array([[[255, 0, 0], [0, 255, 0]],
                      [[0, 0, 255], [255, 0, 0]]], np.uint8)
    px = decode_gif_pixels(_offset_gif(5, 4, 2, 1, frame))
    assert px.shape == (4, 5, 3)
    assert (px[1:3, 2:4] == frame).all()
    # background = palette[bg_index=0] (lowest color after np.unique sort)
    bg = sorted(map(tuple, frame.reshape(-1, 3).tolist()))[0]
    assert tuple(px[0, 0]) == bg
    assert tuple(px[3, 4]) == bg
    # out-of-bounds placement is corrupt, not silently cropped
    with pytest.raises(ValueError, match="logical screen"):
        decode_gif_pixels(_offset_gif(3, 3, 2, 2, frame))


def test_decode_media_skip_narrow_and_counted(spark):
    """ADVICE r3: on_error='skip' drops ONLY declared decode failures, with
    an observable dropped count; a decoder BUG (TypeError) still raises."""
    from osm2geojson_lite_spark.pipeline import multimodal as mm

    rows = [
        ("ok://1", "image", bytearray(mm.encode_bmp(
            __import__("numpy").zeros((2, 2, 3), "uint8")))),
        ("bad://1", "image", bytearray(b"GIF89a\x00")),   # truncated
        ("bad://2", "image", bytearray(b"\x00\x01garbage")),
    ]
    media = spark.createDataFrame(
        rows, "media_ref string, kind string, payload binary")
    acc = spark.sparkContext.accumulator(0)
    out = mm.decode_media(media, on_error="skip", dropped_counter=acc)
    got = out.collect()
    assert [r["media_ref"] for r in got] == ["ok://1"]
    assert acc.value == 2

    # the skip net is the declared tuple only — programming-bug exception
    # types are NOT in it, so a decoder regression fails loudly even in
    # skip mode (the round-3 bare-Exception catch hid them)
    assert TypeError not in mm._DECODE_SKIP_ERRORS
    assert AttributeError not in mm._DECODE_SKIP_ERRORS
    assert KeyError not in mm._DECODE_SKIP_ERRORS


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


def test_pip_vertical_edge_no_warnings():
    """VERDICT r3 #5: vertical edges, identical consecutive vertices, and
    near-denormal dx must raise no numpy RuntimeWarning and must agree with
    the scalar ray cast."""
    import warnings

    import numpy as np

    from osm2geojson_lite_spark.functions.geometry import (
        point_inside_polygon,
        points_inside_polygon,
    )

    polygon = np.array([
        [0.0, 0.0], [0.0, 5.0],        # vertical edge
        [2.5, 5.0], [2.5, 5.0],        # identical consecutive vertices
        [5.0, 5.0], [5.0 + 1e-300, 0.0],  # near-denormal dx
        [1e308, -1e308],               # overflow-scale vertex
    ])
    pts = np.array([
        [1.0, 1.0], [4.9, 0.1], [-1.0, 2.0], [2.5, 5.0], [0.0, 0.0],
        [6.0, 6.0],
    ])
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        got = points_inside_polygon(pts, polygon)
    want = [point_inside_polygon(p, polygon.tolist()) for p in pts.tolist()]
    assert got.tolist() == want


def test_lineage_log_backends_interchangeable(spark, tmp_path):
    """The driver-side pyarrow log writer (round-4 fixed-cost cut) must
    produce parquet that the Spark reader path parses with the identical
    schema, and vice versa — logs are interchangeable between backends."""
    from osm2geojson_lite_spark.lineage import LINEAGE_SCHEMA, LineageLog

    lin = str(tmp_path / "lin")
    log = LineageLog(lin)
    log.mark_done(spark, "runA", [("0", 10), ("1", 20)], wall_ms=5)
    log.mark_done(spark, "runB", [("0", 7)], wall_ms=3)

    # pyarrow-written files, read back through BOTH backends
    assert log.completed_keys(spark, "runA") == ["0", "1"]
    df = spark.read.schema(LINEAGE_SCHEMA).parquet(lin)
    assert df.count() == 3
    assert [f.name for f in df.schema.fields] == [
        "run_id", "partition_key", "status", "n_rows", "wall_ms",
        "finished_at_ms",
    ]
    got = {(r["run_id"], r["partition_key"], r["n_rows"])
           for r in df.collect()}
    assert got == {("runA", "0", 10), ("runA", "1", 20), ("runB", "0", 7)}


def test_kmeans_farthest_point_spreads_lists(emb):
    """The motivating defect: hash-order init packed centroids into one
    dense region.  Farthest-point init must not leave any inverted list
    empty and keeps max/mean imbalance sane on the sf0.01 corpus."""
    cents = kmeans_centroids(emb, n_centroids=16, n_iters=20,
                             sample_size=512, seed=0)
    sizes = {
        r["cid"]: r["n"]
        for r in _assign_cid(emb, cents)
        .groupBy("cid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert len(sizes) == 16  # no empty lists
    mean = sum(sizes.values()) / 16
    assert max(sizes.values()) / mean < 3.0
