"""Training-pipeline operator tests: dedup, similarity, text analysis,
multimodal — each against a pure-Python oracle on real testdata (sf0.001)."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from osm2geojson_lite_spark.pipeline import (
    brute_force_topk,
    doc_fingerprint,
    exact_duplicates,
    embedding_near_duplicates,
    language_id,
    minhash_near_duplicates,
    minhash_signatures,
    ngram_jaccard_pairs,
    quality_counts,
    sign_lsh_topk,
    simhash,
    simhash_near_duplicates,
)
from osm2geojson_lite_spark.pipeline.multimodal import (
    decode_media,
    frame_sample_plan,
    media_byte_stats,
    synthetic_media,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def documents(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").persist()


@pytest.fixture(scope="module")
def docs_py(documents):
    return [(str(r["doc_id"]), r["text"]) for r in documents.collect()]


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").persist()


def _tokens(text):
    return [t for t in text.lower().split(" ") if t]


def _shingles(text, n=3):
    toks = _tokens(text)
    return set(" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1))


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_exact_duplicates_with_injected_dups(spark, documents):
    dup = documents.limit(3).withColumn("doc_id", F.col("doc_id") + 1000000)
    out = exact_duplicates(documents.unionByName(dup)).collect()
    assert len(out) == 3
    for r in out:
        assert r["n_dups"] == 2


def test_minhash_signature_matches_python_oracle(spark, documents, docs_py):
    got = {r["doc_id"]: r["sig"] for r in
           minhash_signatures(documents.limit(5), num_hashes=8).collect()}
    for doc_id, text in docs_py[:5]:
        sh = _shingles(text)
        if not sh:
            continue
        want = [min(_h60(f"{i}:{s}") for s in sh) for i in range(8)]
        assert list(got[int(doc_id)]) == want


def test_minhash_near_duplicates_finds_planted_pair(spark, documents):
    base = documents.limit(1).collect()[0]
    text = base["text"]
    toks = text.split(" ")
    mutated = " ".join(toks[:-1] + ["zzz"])  # ~high jaccard variant
    extra = spark.createDataFrame(
        [(9000001, text), (9000002, mutated)], "doc_id long, text string"
    )
    docs = documents.select("doc_id", "text").unionByName(extra)
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in minhash_near_duplicates(docs, threshold=0.5).collect()}
    assert any({a, b} >= {9000001, 9000002} or (a, b) == (9000001, 9000002)
               for a, b in pairs)


def test_simhash_close_for_similar_far_for_different(spark, documents):
    rows = documents.limit(2).collect()
    t0, t1 = rows[0]["text"], rows[1]["text"]
    mutated = " ".join(t0.split(" ")[:-2] + ["qqq", "zzz"])
    df = spark.createDataFrame(
        [(1, t0), (2, mutated), (3, t1)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r["simhash"] for r in simhash(df).collect()}
    ham_sim = bin(out[1] ^ out[2]).count("1")
    ham_diff = bin(out[1] ^ out[3]).count("1")
    assert ham_sim < ham_diff


def _brute_hamming_pairs(fps: dict[int, int], k: int):
    ids = sorted(fps)
    return {
        (a, b): bin(fps[a] ^ fps[b]).count("1")
        for i, a in enumerate(ids) for b in ids[i + 1:]
        if bin(fps[a] ^ fps[b]).count("1") <= k
    }


def test_simhash_neardup_matches_bruteforce(spark, documents):
    """Banding is EXACT (pigeonhole): operator output == all-pairs popcount
    over the same fingerprints, pairs and distances both."""
    base = documents.filter(F.col("doc_id") < 40).select("doc_id", "text")
    mut = base.limit(4).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat("text", F.lit(" zz")).alias("text"))
    docs = base.unionByName(mut)
    fps = {r["doc_id"]: r["simhash"]
           for r in simhash(docs, bits=32).collect()}
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in simhash_near_duplicates(docs, bits=32,
                                            max_hamming=3).collect()}
    assert got == _brute_hamming_pairs(fps, 3)


def test_simhash_neardup_uneven_bands_and_planted_pair(spark, documents):
    """bits not divisible by bands (16/3 -> widths 6,5,5) still exact; a
    one-token append is within Hamming 4 of its source at 16 bits."""
    base = documents.filter(F.col("doc_id") < 30).select("doc_id", "text")
    mut = base.limit(6).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat("text", F.lit(" zz")).alias("text"))
    docs = base.unionByName(mut)
    fps = {r["doc_id"]: r["simhash"]
           for r in simhash(docs, bits=16).collect()}
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in simhash_near_duplicates(docs, bits=16,
                                            max_hamming=4).collect()}
    want = _brute_hamming_pairs(fps, 4)
    assert got == want
    planted = [(a, b) for (a, b) in got if b - a == 1000000]
    assert len(planted) >= 3  # most one-token appends stay within 4 bits


def test_simhash_neardup_band_cap_drops_flood(spark, documents):
    """max_band_count fences a boilerplate flood: 30 identical docs share
    every band bucket, so the cap removes their C(30,2) pairs while the
    distinct near-dup pair (in buckets below the cap) survives."""
    row = documents.filter(F.col("doc_id") == 7).collect()[0]
    flood = [(10000 + i, "the same boilerplate line") for i in range(30)]
    pair = [(1, row["text"]), (2, row["text"] + " zz")]
    docs = spark.createDataFrame(flood + pair, "doc_id long, text string")
    full = simhash_near_duplicates(docs, bits=32, max_hamming=3).collect()
    assert sum(1 for r in full if r["id_a"] >= 10000) == 435  # C(30,2)
    capped = simhash_near_duplicates(docs, bits=32, max_hamming=3,
                                     max_band_count=10).collect()
    assert all(r["id_a"] < 10000 for r in capped)
    if any((r["id_a"], r["id_b"]) == (1, 2) for r in full):
        assert any((r["id_a"], r["id_b"]) == (1, 2) for r in capped)


def test_simhash_neardup_partitioning_invariant(spark, documents):
    docs = documents.filter(F.col("doc_id") < 50).select("doc_id", "text")
    a = sorted(map(tuple, simhash_near_duplicates(
        docs.repartition(1), bits=32, max_hamming=3).collect()))
    b = sorted(map(tuple, simhash_near_duplicates(
        docs.repartition(8), bits=32, max_hamming=3).collect()))
    assert a == b


def test_ngram_jaccard_pairs_matches_python(spark, documents, docs_py):
    sub = documents.filter(F.col("doc_id") < 30)
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in ngram_jaccard_pairs(sub, threshold=0.05).collect()}
    want = {}
    subset = [(d, t) for d, t in docs_py if int(d) < 30]
    for i, (da, ta) in enumerate(subset):
        for db, tb in subset[i + 1:]:
            sa, sb = _shingles(ta), _shingles(tb)
            if not sa or not sb:
                continue
            j = len(sa & sb) / len(sa | sb)
            if j >= 0.05:
                key = (int(da), int(db)) if int(da) < int(db) else (int(db), int(da))
                want[key] = j
    assert set(got) == set(want)
    for k in want:
        assert math.isclose(got[k], want[k], rel_tol=1e-12)


def test_brute_force_topk_matches_python(spark, embeddings):
    vecs = {r["vec_id"]: list(r["embedding"]) for r in embeddings.collect()}
    queries = embeddings.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = {}
    for r in brute_force_topk(queries, embeddings, k=5, query_id="query_id").collect():
        got.setdefault(r["query_id"], {})[r["rank"]] = r["neighbor_id"]

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))

    for q in range(3):
        ranked = sorted(
            ((round(cos(vecs[q], v), 9), vid) for vid, v in vecs.items()),
            key=lambda t: (-t[0], t[1]),
        )[:5]
        assert [got[q][i + 1] for i in range(5)] == [vid for _, vid in ranked]


def test_sign_lsh_recalls_self(spark, embeddings):
    queries = embeddings.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = sign_lsh_topk(queries, embeddings, k=3).collect()
    top1 = {r["query_id"]: r["neighbor_id"] for r in out if r["rank"] == 1}
    for q in range(5):
        assert top1[q] == q  # a vector's nearest neighbor is itself


def test_ivf_topk_recall_and_self(spark, embeddings):
    from osm2geojson_lite_spark.pipeline import ivf_topk

    queries = embeddings.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ivf = ivf_topk(queries, embeddings, k=5, n_centroids=16, n_probe=4).collect()
    brute = brute_force_topk(queries, embeddings, k=5).collect()
    ivf_sets = {}
    for r in ivf:
        ivf_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    brute_sets = {}
    for r in brute:
        brute_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    # every query's own vector is in a probed list (its nearest centroid is
    # its assigned centroid), so rank 1 must be itself
    rank1 = {r["query_id"]: r["neighbor_id"] for r in ivf if r["rank"] == 1}
    assert rank1 == {q: q for q in ivf_sets}
    # probing 4/16 lists must still recover a meaningful share of the exact
    # top-5 (empirical on this corpus: well above the 25% scan fraction)
    recall = sum(
        len(ivf_sets[q] & brute_sets[q]) / 5 for q in brute_sets
    ) / len(brute_sets)
    assert recall >= 0.4, recall


def test_token_counts_matches_python(spark, documents, docs_py):
    import re as _re

    from osm2geojson_lite_spark.pipeline import token_counts
    from osm2geojson_lite_spark.pipeline.text import BPE_SPLIT_RE

    got = {str(r["doc_id"]): r for r in token_counts(documents).collect()}
    pat = _re.compile(BPE_SPLIT_RE)
    for doc_id, text in docs_py[:100]:
        pieces = pat.findall(text)
        assert got[doc_id]["n_ws_tokens"] == len(_tokens(text))
        assert got[doc_id]["n_pre_tokens"] == len(pieces)
        assert got[doc_id]["n_subword_est"] == sum((len(p) + 3) // 4 for p in pieces)


def test_clean_corpus_gates_and_dedups(spark):
    from osm2geojson_lite_spark.pipeline.compose import clean_corpus

    rows = [
        (1, "the quick brown fox is seen with the lazy dog"),   # keeps
        (2, "THE  Quick Brown  Fox is seen with the lazy dog"),  # exact dup of 1 (normalized)
        (3, "el gato la casa de los que por con una hola"),      # not en
        (4, "the and"),                                          # too short
        (5, "the of to in is for with !!!!!!!!!!!!!!!!!!!!!!!"),  # punct-heavy
        (6, "the the the the the the the the of of"),            # low diversity
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = clean_corpus(docs).collect()
    kept = {r["doc_id"] for r in out}
    assert kept == {1}
    [r] = out
    assert r["pred_lang"] == "en" and r["n_tokens"] == 10


def test_winnowing_matches_python_and_guarantee(spark, documents, docs_py):
    from osm2geojson_lite_spark.pipeline import winnowing_fingerprints

    k, w = 3, 4

    def py_winnow(text):
        toks = _tokens(text)
        grams = [_h60(" ".join(toks[i:i + k])) for i in range(len(toks) - k + 1)]
        if not grams:
            return set()
        if len(grams) < w:
            return {min(grams)}
        return {min(grams[j:j + w]) for j in range(len(grams) - w + 1)}

    got: dict[str, set] = {}
    for r in winnowing_fingerprints(documents, k=k, w=w).collect():
        got.setdefault(str(r["doc_id"]), set()).add(r["fp"])
    for doc_id, text in docs_py[:80]:
        assert got.get(doc_id, set()) == py_winnow(text), doc_id

    # winnowing guarantee: documents sharing a run of >= w+k-1 tokens share
    # at least one fingerprint
    shared = "alpha beta gamma delta epsilon zeta eta"  # 7 >= w+k-1 = 6
    pair = spark.createDataFrame(
        [("p1", "intro words then " + shared),
         ("p2", shared + " completely different tail words here")],
        "doc_id string, text string",
    )
    fps: dict[str, set] = {}
    for r in winnowing_fingerprints(pair, k=k, w=w).collect():
        fps.setdefault(r["doc_id"], set()).add(r["fp"])
    assert fps["p1"] & fps["p2"]


def test_embedding_near_duplicates_with_planted(spark, embeddings):
    planted = embeddings.filter(F.col("vec_id") == 0).select(
        F.lit(777777).alias("vec_id"), "embedding", "label"
    )
    pairs = embedding_near_duplicates(
        embeddings.unionByName(planted), threshold=0.999
    ).collect()
    assert any(r["id_a"] == 0 and r["id_b"] == 777777 for r in pairs)


def test_quality_counts_matches_python(spark, documents, docs_py):
    got = {r["doc_id"]: r for r in quality_counts(documents.limit(10)).collect()}
    for doc_id, text in docs_py[:10]:
        r = got[int(doc_id)]
        toks = _tokens(text)
        assert r["n_chars"] == len(text)
        assert r["n_tokens"] == len(toks)
        assert r["n_distinct_tokens"] == len(set(toks))
        assert r["n_punct"] == sum(text.count(c) for c in ".,;:!?")


def test_language_id_beats_chance(spark, documents):
    joined = language_id(documents).join(
        documents.select("doc_id", "lang"), "doc_id"
    )
    n = joined.count()
    hits = joined.filter(F.col("pred_lang") == F.col("lang")).count()
    assert hits / n > 0.22  # word-soup corpus; still above 1/5 chance


def test_doc_fingerprint_whitespace_invariant(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, " hello  world ")],
        "doc_id long, text string",
    )
    out = [r["fingerprint"] for r in doc_fingerprint(df).orderBy("doc_id").collect()]
    assert out[0] == out[1] == out[2]


def test_doc_fingerprint_matches_python_oracle(spark):
    """Full value pin (not just invariance): md5 of lowercased,
    whitespace-collapsed, trimmed text — the tail-seat gate pin for
    `doc_fingerprint`."""
    import hashlib
    import re

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = {int(r["doc_id"]): r["fingerprint"]
           for r in doc_fingerprint(docs).collect()}
    for d, t in [(int(r["doc_id"]), r["text"]) for r in docs.collect()]:
        want = hashlib.md5(
            re.sub(r"\s+", " ", t.lower()).strip().encode()).hexdigest()
        assert got[d] == want, d


def test_media_decode_recovers_encoded_metadata(spark):
    """The generator states the metadata each blob was encoded with
    (media_spec) — the decoder must recover it by parsing bytes."""
    from osm2geojson_lite_spark.pipeline.multimodal import media_spec

    media = synthetic_media(spark, 30)
    stats = media_byte_stats(media).collect()
    assert len(stats) == 30 and all(r["n_bytes"] > 0 for r in stats)
    decoded = decode_media(media)
    rows = {r["media_ref"]: r for r in decoded.collect()}
    assert len(rows) == 30
    for i in range(30):
        spec = media_spec(i)
        r = rows[f"{spec['kind']}://blob/{i}"]
        for k in ("kind", "format", "width", "height", "n_frames",
                  "sample_rate", "n_samples"):
            assert r[k] == spec[k], (i, k, r[k], spec[k])
    plan = frame_sample_plan(decoded, every_n=5).collect()
    assert len(plan) > 0 and all(r["frame_idx"] % 5 == 0 for r in plan)


def test_decode_media_compressed_raises_or_skips(spark):
    fake_png = b"\x89PNG\r\n\x1a\n" + b"\0" * 64
    media = spark.createDataFrame(
        [("image://png/0", "image", bytearray(fake_png))],
        "media_ref string, kind string, payload binary",
    )
    with pytest.raises(Exception):
        decode_media(media).collect()
    assert decode_media(media, on_error="skip").collect() == []


def test_image_pixel_roundtrip_and_resize(spark):
    from osm2geojson_lite_spark.pipeline.multimodal import (
        _gradient_pixels,
        decode_bmp_pixels,
        decode_ppm_pixels,
        encode_bmp,
        encode_ppm,
        image_features,
        resize_images,
    )

    px = _gradient_pixels(7, 9, 5)
    assert (decode_bmp_pixels(encode_bmp(px)) == px).all()
    assert (decode_ppm_pixels(encode_ppm(px)) == px).all()

    media = synthetic_media(spark, 12)
    feats = {r["media_ref"]: r for r in image_features(media).collect()}
    import numpy as np

    from osm2geojson_lite_spark.pipeline.multimodal import media_spec

    from osm2geojson_lite_spark.pipeline.multimodal import _palette_pixels

    def src_pixels(i, spec):
        # gif blobs are palette-quantized; all other image formats gradient
        gen = _palette_pixels if spec["format"] == "gif" else _gradient_pixels
        return gen(i, spec["width"], spec["height"])

    for i in range(12):
        spec = media_spec(i)
        if spec["kind"] != "image":
            continue
        r = feats[f"image://blob/{i}"]
        expect = src_pixels(i, spec).reshape(-1, 3).mean(axis=0)
        assert abs(r["mean_r"] - expect[0]) < 1e-9
        assert abs(r["mean_b"] - expect[2]) < 1e-9
    resized = resize_images(media, 8, 6).collect()
    assert all(len(r["pixels"]) == 8 * 6 * 3 for r in resized)
    # nearest-neighbor: resized pixel (0,0) equals source pixel (0,0)
    one = next(r for r in resized if r["media_ref"].endswith("/0"))
    spec0 = media_spec(0)
    src = src_pixels(0, spec0)
    got = np.frombuffer(one["pixels"], dtype=np.uint8).reshape(6, 8, 3)
    assert (got[0, 0] == src[0, 0]).all()


def test_audio_features_match_pcm(spark):
    import numpy as np

    from osm2geojson_lite_spark.pipeline.multimodal import (
        _audio_samples,
        audio_features,
        media_spec,
    )

    media = synthetic_media(spark, 12)
    rows = {r["media_ref"]: r for r in audio_features(media).collect()}
    for i in range(12):
        spec = media_spec(i)
        if spec["kind"] != "audio":
            continue
        r = rows[f"audio://blob/{i}"]
        x = _audio_samples(i, spec["n_samples"]).astype(np.float64)
        assert r["sample_rate"] == spec["sample_rate"]
        assert r["n_samples"] == spec["n_samples"]
        assert abs(r["rms"] - float(np.sqrt((x * x).mean()))) < 1e-9
        assert r["zero_crossings"] == int(((x[:-1] * x[1:]) < 0).sum())


def test_deterministic_sample_stable_across_partitioning(spark):
    from osm2geojson_lite_spark.pipeline.sample import deterministic_sample

    df = spark.range(2000).select(F.col("id").cast("string").alias("doc_id"))
    a = {r["doc_id"] for r in deterministic_sample(df, 0.3).collect()}
    b = {r["doc_id"] for r in
         deterministic_sample(df.repartition(17), 0.3).collect()}
    assert a == b  # partitioning-independent
    assert 0.25 < len(a) / 2000 < 0.35  # rate honored (md5 uniformity)
    # idempotent per salt; composes across salts
    again = {r["doc_id"] for r in deterministic_sample(
        deterministic_sample(df, 0.3), 0.3).collect()}
    assert again == a
    composed = {r["doc_id"] for r in deterministic_sample(
        deterministic_sample(df, 0.5), 0.5, salt=1).collect()}
    assert 0.19 < len(composed) / 2000 < 0.31


def test_quota_cap_per_group(spark):
    from osm2geojson_lite_spark.pipeline.sample import quota_cap

    df = spark.range(300).select(
        F.col("id").cast("string").alias("doc_id"),
        (F.col("id") % 7).alias("domain"),
    )
    out = quota_cap(df, "domain", 10)
    counts = {r["domain"]: r["n"] for r in
              out.groupBy("domain").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert all(n == 10 for n in counts.values()) and len(counts) == 7
    # deterministic across partitionings
    a = {r["doc_id"] for r in out.collect()}
    b = {r["doc_id"] for r in quota_cap(df.repartition(13), "domain", 10).collect()}
    assert a == b
    # quota above group size keeps everything
    assert quota_cap(df, "domain", 100).count() == 300


def test_mixture_sample_exact_selection(spark):
    """mixture_sample == the naive full hash-rank selection (the prefilter
    is a pure optimization), with floor(total*w/Σw) per-group quotas,
    undersupplied groups keeping everything, unweighted groups dropped."""
    import hashlib

    from osm2geojson_lite_spark.pipeline.sample import mixture_sample

    # populations: a=400, b=100, c=30, d=200 (d unweighted)
    rows = ([(f"a{i}", "a") for i in range(400)]
            + [(f"b{i}", "b") for i in range(100)]
            + [(f"c{i}", "c") for i in range(30)]
            + [(f"d{i}", "d") for i in range(200)])
    df = spark.createDataFrame(rows, "doc_id string, source string")
    weights = {"a": 2.0, "b": 1.0, "c": 1.0}
    total = 200  # quotas: a=100, b=50, c=50 -> c undersupplied (keeps 30)
    out = mixture_sample(df, weights, total, group_col="source")
    got = {r["source"]: set() for r in out.collect()}
    for r in out.collect():
        got[r["source"]].add(r["doc_id"])
    assert set(got) == {"a", "b", "c"}  # d dropped
    assert len(got["a"]) == 100 and len(got["b"]) == 50 and len(got["c"]) == 30

    def h(key):
        return int(hashlib.md5(f"0:{key}".encode()).hexdigest()[:8], 16)

    for src, quota in (("a", 100), ("b", 50), ("c", 50)):
        keys = [k for k, s in rows if s == src]
        want = set(sorted(keys, key=lambda k: (h(k), k))[:quota])
        assert got[src] == want, src  # identical to the full rank

    # partitioning-invariant
    again = {(r["source"], r["doc_id"]) for r in mixture_sample(
        df.repartition(13), weights, total, group_col="source").collect()}
    assert again == {(s, k) for s, ks in got.items() for k in ks}


def test_mixture_sample_tiny_quota_survives_prefilter(spark):
    """quota=1 over a large group: the slack term keeps the prefilter from
    starving the rank (the Chernoff-bound edge case)."""
    from osm2geojson_lite_spark.pipeline.sample import mixture_sample

    df = spark.createDataFrame(
        [(f"k{i}", "g") for i in range(5000)], "doc_id string, source string")
    out = mixture_sample(df, {"g": 1.0}, 1, group_col="source")
    assert out.count() == 1


def test_mixture_sample_tokens_budget_fill(spark):
    """Token-budget fill == the python walk: hash-rank order, keep while
    predecessors sum under budget (crossing doc included), undersupplied
    group keeps all, unweighted group dropped."""
    import hashlib

    from osm2geojson_lite_spark.pipeline.sample import mixture_sample_tokens

    # token counts vary per row: doc i in group g has (i % 13) + 1 tokens
    rows = []
    for g, n in (("a", 300), ("b", 120), ("c", 10), ("d", 50)):
        for i in range(n):
            rows.append((f"{g}{i}", g, "w " * ((i % 13) + 1)))
    df = spark.createDataFrame(rows, "doc_id string, source string, text string")
    weights = {"a": 2.0, "b": 1.0, "c": 1.0}
    total = 800  # budgets: a=400, b=200, c=200 (c supplies only ~55 tokens)
    out = mixture_sample_tokens(df, weights, total, group_col="source")
    got = {}
    for r in out.collect():
        got.setdefault(r["source"], set()).add(r["doc_id"])
    assert set(got) == {"a", "b", "c"}
    assert len(got["c"]) == 10  # undersupplied: keeps everything

    def h(key):
        return int(hashlib.md5(f"0:{key}".encode()).hexdigest()[:8], 16)

    toks = {k: len(t.split()) for k, g, t in rows}
    for src, budget in (("a", 400), ("b", 200), ("c", 200)):
        keys = sorted((k for k, g, t in rows if g == src),
                      key=lambda k: (h(k), k))
        want, cum = set(), 0
        for k in keys:
            if cum >= budget:
                break
            want.add(k)
            cum += toks[k]
        assert got[src] == want, src
        if src != "c":  # budget reached: fill property holds
            kept_tokens = sum(toks[k] for k in want)
            assert kept_tokens >= budget  # crossing doc included
            assert kept_tokens - max(toks[k] for k in want) < budget

    # partitioning-invariant
    again = {(r["source"], r["doc_id"]) for r in mixture_sample_tokens(
        df.repartition(11), weights, total, group_col="source").collect()}
    assert again == {(s, k) for s, ks in got.items() for k in ks}


def test_mixture_sample_tokens_explicit_count_col(spark):
    """token_count accepts a precomputed column (the 100 TB shape: token
    counts land in table metadata once, sampling never re-tokenizes)."""
    from osm2geojson_lite_spark.pipeline.sample import mixture_sample_tokens

    df = spark.createDataFrame(
        [(f"k{i}", "g", 10) for i in range(100)],
        "doc_id string, source string, n_tokens int")
    out = mixture_sample_tokens(df, {"g": 1.0}, 55, group_col="source",
                                token_count="n_tokens")
    # 55-token budget over 10-token docs: 5 docs fill 50 < 55 -> 6th included
    assert out.count() == 6


def test_mixture_epochs_oversampling(spark):
    """Budget over supply repeats the domain: supply 30 tokens, budget 100
    -> 3 full epochs (0,1,2) of every doc + a 10-token remainder fill at
    epoch 3; a second in-budget domain behaves like plain token fill at
    epoch 0; token totals hit the budget to within one doc."""
    import hashlib

    from osm2geojson_lite_spark.pipeline.sample import (
        mixture_epochs, mixture_sample_tokens,
    )

    rows = ([(f"a{i}", "a", "t " * 3) for i in range(10)]        # supply 30
            + [(f"b{i}", "b", "t " * 5) for i in range(100)])    # supply 500
    df = spark.createDataFrame(rows, "doc_id string, source string, text string")
    weights, total = {"a": 1.0, "b": 2.0}, 300  # budgets: a=100, b=200
    out = mixture_epochs(df, weights, total, group_col="source")
    got = {}
    for r in out.collect():
        got.setdefault(r["source"], []).append((r["doc_id"], r["epoch"]))

    # domain a: 3 full epochs of all 10 docs + remainder 10 tokens at epoch 3
    a = got["a"]
    for e in (0, 1, 2):
        assert sorted(k for k, ep in a if ep == e) == [f"a{i}" for i in range(10)]

    def h(key):
        return int(hashlib.md5(f"0:{key}".encode()).hexdigest()[:8], 16)

    keys = sorted((f"a{i}" for i in range(10)), key=lambda k: (h(k), k))
    want_rem, cum = [], 0
    for k in keys:
        if cum >= 10:
            break
        want_rem.append(k)
        cum += 3
    assert sorted(k for k, ep in a if ep == 3) == sorted(want_rem)
    a_tokens = 3 * len(a)
    assert 100 <= a_tokens < 100 + 3  # budget hit to within one doc

    # domain b (in budget): identical doc set to the plain token fill, all epoch 0
    b_docs = sorted(k for k, ep in got["b"])
    assert all(ep == 0 for _, ep in got["b"])
    plain = sorted(r["doc_id"] for r in mixture_sample_tokens(
        df.filter(F.col("source") == "b"), {"b": 1.0}, 200,
        group_col="source").collect())
    assert b_docs == plain

    # partitioning-invariant
    again = sorted((r["source"], r["doc_id"], r["epoch"]) for r in
                   mixture_epochs(df.repartition(7), weights, total,
                                  group_col="source").collect())
    assert again == sorted((s, k, e) for s, kes in got.items() for k, e in kes)


def _h(key, salt=0):
    return int(hashlib.md5(f"{salt}:{key}".encode()).hexdigest()[:8], 16)


def test_quota_cap_skewed_group_matches_naive_rank(spark):
    """quota_cap == the naive full hash-rank selection on a skewed corpus
    (one 4000-row group next to 40-row groups) — the prefilter is a pure
    optimization, and undersized groups keep everything."""
    from osm2geojson_lite_spark.pipeline.sample import quota_cap

    rows = ([(f"big{i}", "big") for i in range(4000)]
            + [(f"s1-{i}", "s1") for i in range(40)]
            + [(f"s2-{i}", "s2") for i in range(3)])
    df = spark.createDataFrame(rows, "doc_id string, domain string")
    out = quota_cap(df.repartition(23), "domain", 5)
    got = {}
    for r in out.collect():
        got.setdefault(r["domain"], set()).add(r["doc_id"])
    for dom, n in (("big", 5), ("s1", 5), ("s2", 3)):
        keys = [k for k, d in rows if d == dom]
        want = set(sorted(keys, key=lambda k: (_h(k), k))[:n])
        assert got[dom] == want, dom
    # column order preserved through the prefilter join
    assert out.columns == ["doc_id", "domain"]


def test_quota_cap_quota_one_large_group(spark):
    """quota=1 over a large group survives the prefilter (slack term)."""
    from osm2geojson_lite_spark.pipeline.sample import quota_cap

    df = spark.createDataFrame(
        [(f"k{i}", "g") for i in range(5000)], "doc_id string, domain string")
    out = quota_cap(df, "domain", 1).collect()
    keys = [f"k{i}" for i in range(5000)]
    assert {r["doc_id"] for r in out} == {
        min(keys, key=lambda k: (_h(k), k))}
