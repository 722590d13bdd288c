"""LLM-operator behavior on planted inputs: the sketches must actually
find the near-duplicates they claim to find."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_verkada_spark.llm.dedup import (
    exact_jaccard,
    lsh_candidate_pairs,
    minhash_signatures,
    normalized_text,
    _doc_shingles,
)
from etl_verkada_spark.llm.multimodal import decode_frames, with_binary_payload
from etl_verkada_spark.llm.similarity import cosine, _as_double


BASE = (
    "the quick brown fox jumps over the lazy dog and then runs far away "
    "to the deep green forest where it hides beneath the old oak tree"
)


def _docs(spark):
    rows = [
        (0, BASE),
        (1, BASE.replace("lazy", "sleepy")),        # near-dup of 0
        (2, "completely different words about spark plans and shuffles "
            "with nothing shared at all in any shingle of this text here"),
        (3, BASE),                                   # exact dup of 0
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_finds_planted_neardup(spark):
    docs = _docs(spark)
    sig = minhash_signatures(docs)
    pairs = lsh_candidate_pairs(sig)
    verified = exact_jaccard(pairs, _doc_shingles(docs))
    hits = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in verified.filter(F.col("jaccard") >= 0.5).collect()
    }
    assert (0, 3) in hits and hits[(0, 3)] == 1.0          # exact dup
    assert (0, 1) in hits and 0.5 <= hits[(0, 1)] < 1.0    # near dup
    assert all(2 not in pair for pair in hits)             # unrelated doc


def test_minhash_signature_stable_across_runs(spark):
    docs = _docs(spark)
    s1 = sorted(map(tuple, minhash_signatures(docs).collect()))
    s2 = sorted(map(tuple, minhash_signatures(docs.repartition(7)).collect()))
    assert s1 == s2  # partitioning must not change the sketch


def test_normalizer(spark):
    df = spark.createDataFrame(
        [(1, "  Hello   WORLD  "), (2, "hello world")], "doc_id long, text string"
    )
    out = df.select(normalized_text().alias("n")).collect()
    assert out[0]["n"] == out[1]["n"] == "hello world"


def test_cosine_identity_and_orthogonal(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 2.0]), (3, [2.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    q = F.array(F.lit(1.0), F.lit(0.0))
    got = {
        r["vec_id"]: r["c"]
        for r in df.select(
            "vec_id", cosine(q, _as_double(F.col("embedding"))).alias("c")
        ).collect()
    }
    assert got[1] == pytest.approx(1.0)
    assert got[2] == pytest.approx(0.0)
    assert got[3] == pytest.approx(1.0)  # scale-invariant


def test_decode_stub_shapes_and_determinism(spark):
    docs = spark.createDataFrame(
        [(1, "abc"), (2, "defghij")], "doc_id long, text string"
    )
    payloads = with_binary_payload(docs)
    frames = decode_frames(payloads, n_frames=3)
    rows = sorted(map(tuple, frames.collect()))
    assert len(rows) == 6  # 2 docs x 3 frames
    rows_again = sorted(map(tuple, decode_frames(payloads, n_frames=3).collect()))
    assert rows == rows_again  # deterministic fake
    # metadata plumbed through
    assert all(r[2] > 0 and r[3] > 0 for r in rows)


def test_decode_real_codec_rejects_unknown_magic(spark):
    # text-bytes payload is not a PPM: the real codec path must fail
    # loudly (codec contract), not silently fake
    docs = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
    frames = decode_frames(with_binary_payload(docs), real_codecs=True)
    with pytest.raises(Exception, match="unsupported codec magic"):
        frames.collect()


def test_ppm_round_trip_exact():
    # pure-kernel check: encode a known image, decode, verify pixels
    import numpy as np

    from etl_verkada_spark.llm.multimodal import _ppm_parse

    w, h = 4, 2
    px = np.arange(w * h * 3, dtype=np.uint8)
    b = f"P6\n{w} {h}\n255\n".encode() + px.tobytes()
    pw, ph, maxval, out = _ppm_parse(b)
    assert (pw, ph, maxval) == (w, h, 255)
    assert np.array_equal(out, px)
    with pytest.raises(ValueError, match="truncated"):
        _ppm_parse(b[:-1])


def test_decode_real_codec_band_means(spark):
    # real path over a real PPM payload: per-band means recomputed in
    # numpy must match the kernel's output exactly
    import numpy as np

    from etl_verkada_spark.llm.multimodal import with_ppm_payload

    docs = spark.createDataFrame(
        [(7, "abcdefgh" * 20)], "doc_id long, text string"
    )
    payload = with_ppm_payload(docs)
    rows = sorted(
        decode_frames(payload, n_frames=2, real_codecs=True).collect(),
        key=lambda r: r.frame_idx,
    )
    raw = bytes(payload.collect()[0].payload)
    from etl_verkada_spark.llm.multimodal import _ppm_parse

    w, h, _, px = _ppm_parse(raw)
    bands = np.array_split(px.reshape(h, w * 3), 2)
    assert len(rows) == 2
    for r, band in zip(rows, bands):
        assert r.width == w
        assert r.height == band.shape[0]
        assert r.mean_px == int(band.sum(dtype=np.int64)) / band.size


def test_resize_real_codec_nearest_neighbor(spark):
    from pyspark.sql import functions as F

    from etl_verkada_spark.llm.multimodal import (
        resize_images, with_ppm_payload,
    )

    docs = spark.createDataFrame(
        [(3, "0123456789" * 30)], "doc_id long, text string"
    )
    p = with_ppm_payload(docs).withColumn(
        "meta",
        F.struct(
            F.lit("image/x-portable-pixmap").alias("mime"),
            F.lit(0).alias("width"),
            F.lit(0).alias("height"),
        ),
    )
    got = resize_images(p, out_w=8, out_h=8, real_codecs=True).collect()[0]
    # doc_id=3 -> w=8+3*4=20, h=6+0*2=6 (doc_id%3==0)
    assert (got.out_w, got.out_h) == (8, 8)
    assert got.scale == pytest.approx(min(8 / 20, 8 / 6), abs=1e-6)


def test_ivf_results_sorted_and_exactly_rescored(spark):
    from etl_verkada_spark.llm.similarity import (
        TOP_K, llm_sim_ann_ivf, llm_sim_search,
    )

    SF = "/root/testdata/sf0.001"
    ivf = llm_sim_ann_ivf(spark, SF).collect()
    assert 0 < len(ivf) <= TOP_K
    sims = [r["sim"] for r in ivf]
    assert sims == sorted(sims, reverse=True)
    # IVF sims are exact cosines: any vec also in the brute-force top-k
    # must carry the identical similarity value
    bf = {r["vec_id"]: r["sim"] for r in llm_sim_search(spark, SF).collect()}
    for r in ivf:
        if r["vec_id"] in bf:
            assert r["sim"] == bf[r["vec_id"]]


def test_embed_dedup_keeper_is_lower_id(spark):
    from etl_verkada_spark.llm.similarity import llm_dedup_embed

    out = llm_dedup_embed(spark, "/root/testdata/sf0.001").collect()
    assert all(r["keep_id"] < r["dup_id"] for r in out)


def test_connected_components_transitive_chain(spark):
    """A path graph must collapse to one cluster (transitive closure) in
    O(diameter) label-propagation rounds, and disjoint components must
    stay separate."""
    from etl_verkada_spark.llm.dedup import connected_components

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (10, 11)],
        "doc_a long, doc_b long",
    )
    got = {
        r["doc_id"]: r["cluster_root"]
        for r in connected_components(edges).collect()
    }
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 5: 0, 10: 10, 11: 10}


def test_ivf_probe_all_equals_brute_force(spark):
    """Probing every cell degrades IVF to exact brute force: the top-k
    must be identical (validates both the cell partition — no vector
    lost or duplicated — and the rescoring metric)."""
    from etl_verkada_spark.llm.similarity import (
        N_CELLS, llm_sim_ann_ivf, llm_sim_search,
    )

    SF = "/root/testdata/sf0.001"
    bf = [(r["vec_id"], r["sim"]) for r in llm_sim_search(spark, SF).collect()]
    ivf = [
        (r["vec_id"], r["sim"])
        for r in llm_sim_ann_ivf(spark, SF, n_probe=N_CELLS).collect()
    ]
    assert ivf == bf


def test_lsh_multiprobe_recall_dominates_single_bucket(spark):
    """Probing the Hamming-1 neighborhood must return a superset of the
    single-bucket candidates, and strictly improve (or equal) recall of
    the brute-force top-k."""
    from etl_verkada_spark.llm.similarity import llm_sim_ann_lsh, llm_sim_search

    SF = "/root/testdata/sf0.001"
    single = {r["vec_id"] for r in llm_sim_ann_lsh(spark, SF, multiprobe=0).collect()}
    multi = {r["vec_id"] for r in llm_sim_ann_lsh(spark, SF, multiprobe=1).collect()}
    bf = {r["vec_id"] for r in llm_sim_search(spark, SF).collect()}
    # both return <= TOP_K rows; multi-probe candidates must cover at
    # least as much of the true top-k as the single bucket did
    assert len(multi & bf) >= len(single & bf)
    assert len(multi) >= len(single)


@pytest.mark.parametrize(
    "name, node, banned",
    [
        ("llm_sim_search", "MapInArrow", "ArrowEvalPython"),
        ("llm_sim_ann_lsh", "MapInArrow", "ArrowEvalPython"),
        ("llm_sim_ann_ivf", "MapInArrow", "ArrowEvalPython"),
        ("llm_dedup_embed", "FlatMapGroupsInPandas", "ArrowEvalPython"),
    ],
)
def test_embedding_kernels_cross_into_python_once(spark, name, node, banned):
    """Each search scores every row AND computes its ANN index column in
    one Arrow pass; dedup is one grouped Gram kernel per label block."""
    from etl_verkada_spark.llm import similarity

    df = getattr(similarity, name)(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count(node) == 1 and banned not in plan, plan


def _block(rows):
    import numpy as np
    import pandas as pd

    return pd.DataFrame(
        {
            "vec_id": [i for i, _ in rows],
            "embedding": [np.array(v, dtype=np.float32) for _, v in rows],
        }
    )


def test_block_hits_degenerate_blocks():
    """_block_hits on blocks with no pair, no hit, and one exact dup."""
    from etl_verkada_spark.llm.similarity import _block_hits

    ids, hit = _block_hits(_block([(7, [1.0, 2.0, 3.0])]), 0.4)
    assert ids.tolist() == [7] and hit.shape == (1, 1) and not hit.any()

    orthogonal = _block([(3, [1, 0, 0]), (1, [0, 1, 0]), (2, [0, 0, 1])])
    ids, hit = _block_hits(orthogonal, 0.4)
    assert ids.tolist() == [1, 2, 3] and not hit.any()

    ids, hit = _block_hits(
        _block([(9, [0.5, -1.0, 2.0]), (4, [0.5, -1.0, 2.0])]), 0.4
    )
    assert ids.tolist() == [4, 9]
    assert hit.tolist() == [[False, True], [False, False]]


def test_embed_dedup_no_match_keeps_long_columns(spark, tmp_path):
    """A corpus with no pair over the threshold (orthogonal vectors plus
    a one-vector block) yields an empty drop-list with long columns."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_verkada_spark.llm.similarity import llm_dedup_embed

    basis = [[float(i == j) for j in range(64)] for i in range(4)]
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([0, 1, 2, 3], pa.int64()),
                "embedding": pa.array(basis, pa.list_(pa.float32())),
                "label": pa.array([0, 0, 0, 1], pa.int32()),
            }
        ),
        tmp_path / "embeddings.parquet",
    )
    df = llm_dedup_embed(spark, str(tmp_path))
    assert df.collect() == []
    assert df.dtypes == [
        ("dup_id", "bigint"), ("keep_id", "bigint"), ("n_matches", "bigint")
    ]


def test_minhash_recall_on_true_neardups(spark):
    """Population scan + recall: the oracle's 100%-LSH-recall assumption
    holds only above MINHASH_THRESHOLD (boundary miss (1-t^4)^32 ~= 5e-6
    at t=0.75).  Scan the FULL exact-Jaccard pair population (threshold-
    free inverted-index join), assert it is bimodal — every overlapping
    pair is either background (J < 0.3, banding never promotes it) or a
    true near-dup comfortably above the threshold — then assert 100%
    recall of every pair >= MINHASH_THRESHOLD.  If regenerated testdata
    ever plants mid-similarity pairs, the bimodality assert flags the
    oracle-risk before a driver row-count FAIL does."""
    from pyspark.sql import functions as F

    from etl_verkada_spark.catalog import table
    from etl_verkada_spark.llm.dedup import (
        MINHASH_THRESHOLD, llm_dedup_minhash, ngram_jaccard_pairs,
    )

    SF = "/root/testdata/sf0.001"
    population = ngram_jaccard_pairs(table(spark, SF, "documents")).collect()
    mid = [r for r in population if 0.3 <= r["jaccard"] < MINHASH_THRESHOLD]
    assert not mid, f"mid-similarity pairs break the recall bound: {mid[:5]}"
    truth = {
        (r["doc_a"], r["doc_b"])
        for r in population
        if r["jaccard"] >= MINHASH_THRESHOLD
    }
    found = {
        (r["doc_a"], r["doc_b"])
        for r in llm_dedup_minhash(spark, SF).collect()
    }
    assert truth, "corpus must contain planted near-dups"
    assert truth <= found  # 100% recall on the high-similarity band


def test_lsh_oracle_plane_dim_matches_testdata():
    """The LSH ANN oracle inlines dim-64 hyperplanes as SQL literals
    (_lsh_oracle); if regenerated testdata ever changes the embedding
    dim, the oracle must be regenerated too — this guard fails first."""
    import pyarrow.dataset as ds

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        d = ds.dataset(f"/root/testdata/{sf}/embeddings.parquet")
        dim = len(d.head(1).column("embedding")[0].as_py())
        assert dim == 64, f"{sf}: embedding dim {dim} != oracle planes dim 64"


def test_pii_scrub_masks_planted_pii(spark):
    """The corpus has no PII, so plant some: every rule must mask its
    pattern, and clean text must pass through byte-identical."""
    from etl_verkada_spark.llm.text import scrub_pii
    from pyspark.sql import functions as F

    rows = [
        (0, "contact me at alice.smith+x@example.co.uk please"),
        (1, "call 555-123-4567 or 555.987.6543 now"),
        (2, "ssn is 123-45-6789 ok"),
        (3, "card 4111 1111 1111 1111 expires soon"),
        (4, "perfectly clean text with numbers 42 and 2024"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["clean"]
        for r in df.select(
            "doc_id", scrub_pii(F.col("text")).alias("clean")
        ).collect()
    }
    assert got[0] == "contact me at <EMAIL> please"
    assert got[1] == "call <PHONE> or <PHONE> now"
    assert got[2] == "ssn is <SSN> ok"
    assert got[3] == "card <CARD>expires soon" or "<CARD>" in got[3]
    assert got[4] == rows[4][1]  # untouched


def test_repetition_metrics_planted_values(spark):
    """Exact fractions on planted docs, incl. the bigram-only case:
    'x y z x y z' passes the word gate (0.5 <= 0.55) but trips the
    bigram gate (0.4 > 0.2)."""
    from etl_verkada_spark.llm.text import repetition_metrics

    rows = [
        (0, "a a a a"),                 # word 0.75, bigram 2/3
        (1, "one two three four five"), # clean
        (2, "x y z x y z"),             # word 0.5, bigram 0.4
        (3, "solo"),                    # 1 token: no bigrams, frac 0
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in repetition_metrics(df).collect()}
    assert got[0]["dup_word_frac"] == 0.75
    assert got[0]["dup_bigram_frac"] == round(1 - 1 / 3, 6)
    assert got[0]["repetitive"] is True
    assert got[1]["dup_word_frac"] == 0.0
    assert got[1]["repetitive"] is False
    assert got[2]["dup_word_frac"] == 0.5
    assert got[2]["dup_bigram_frac"] == 0.4
    assert got[2]["repetitive"] is True        # bigram gate only
    assert got[3]["dup_bigram_frac"] == 0.0
    assert got[3]["repetitive"] is False


def test_pack_sequences_invariants(spark):
    """Packing is a pure function of (order key, token counts): offsets
    stay inside the budget, sequence ids advance monotonically within a
    language, and the cumulative layout reproduces an independent
    pandas recomputation."""
    from etl_verkada_spark.llm.packing import PACK_BUDGET, llm_pack_sequences

    rows = llm_pack_sequences(spark, "/root/testdata/sf0.001").collect()
    assert rows
    by_lang: dict[str, list] = {}
    for r in rows:
        assert 0 <= r["seq_offset"] < PACK_BUDGET
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, docs in by_lang.items():
        docs.sort(key=lambda r: r["doc_id"])
        cum = 0
        prev_seq = 0
        for r in docs:
            assert r["seq_id"] == cum // PACK_BUDGET, (lang, r)
            assert r["seq_offset"] == cum % PACK_BUDGET, (lang, r)
            assert r["seq_id"] >= prev_seq
            prev_seq = r["seq_id"]
            cum += r["n_tok"]


def test_stratified_sample_exact_quota(spark):
    """Every language contributes exactly CEIL(frac * n) docs with
    dense ranks 1..k, and the selection is stable across reruns."""
    import math

    from etl_verkada_spark.llm.packing import STRAT_FRAC, llm_sample_stratified

    sf = "/root/testdata/sf0.001"
    rows = llm_sample_stratified(spark, sf).collect()
    by_lang: dict[str, list] = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, docs in by_lang.items():
        quota = math.ceil(STRAT_FRAC * docs[0]["n_stratum"])
        assert len(docs) == quota, (lang, len(docs), quota)
        assert sorted(d["sample_rank"] for d in docs) == list(
            range(1, quota + 1)
        )
    again = llm_sample_stratified(spark, sf).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_incremental_dedup_flags_known_dups(spark):
    """Every flagged duplicate's dup_of must be an old-batch doc with
    identical normalized text; non-flagged new docs must have no
    normalized twin in the old batch."""
    from etl_verkada_spark.llm.dedup import INCR_NEW_MOD, llm_dedup_incremental
    from etl_verkada_spark.llm.text import normalized_text
    from etl_verkada_spark.catalog import table

    from .conftest import SF_SMALL

    d = table(spark, SF_SMALL, "documents").select(
        "doc_id", normalized_text().alias("norm")
    )
    norms = {r["doc_id"]: r["norm"] for r in d.collect()}
    old_norms = {
        n for i, n in norms.items() if i % INCR_NEW_MOD < INCR_NEW_MOD - 2
    }
    rows = llm_dedup_incremental(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert r["doc_id"] % INCR_NEW_MOD >= INCR_NEW_MOD - 2
        if r["is_dup"]:
            assert norms[r["dup_of"]] == norms[r["doc_id"]]
            assert r["dup_of"] % INCR_NEW_MOD < INCR_NEW_MOD - 2
        else:
            assert norms[r["doc_id"]] not in old_norms


def test_bigram_lm_probabilities_normalize(spark):
    """p_cond = n_pair / n_w1 exactly, and for any w1 fully contained
    in the top-N, its conditional probabilities sum to ~1."""
    from etl_verkada_spark.llm.text import llm_bigram_lm

    from .conftest import SF_SMALL

    rows = llm_bigram_lm(spark, SF_SMALL).collect()
    assert rows
    by_w1 = {}
    for r in rows:
        assert r["p_cond"] == r["n_pair"] / r["n_w1"]
        by_w1.setdefault(r["w1"], []).append(r)
    # counts are descending in the emitted order
    pair_counts = [r["n_pair"] for r in rows]
    assert pair_counts == sorted(pair_counts, reverse=True)
    full = [g for g in by_w1.values() if sum(x["n_pair"] for x in g) == g[0]["n_w1"]]
    for g in full:
        assert abs(sum(x["p_cond"] for x in g) - 1.0) < 1e-9


def test_chunk_rag_covers_every_token_and_roundtrips(spark):
    """Chunk geometry invariants: every token position of every document
    falls inside at least one chunk, chunk 0 starts at token 1, and
    slicing the original token list at (start_tok, n_tokens) reproduces
    each chunk_text exactly."""
    from etl_verkada_spark.llm.text import (
        llm_chunk_rag, CHUNK_TOKENS, CHUNK_STRIDE,
    )
    from .conftest import SF_SMALL

    chunks = llm_chunk_rag(spark, SF_SMALL).collect()
    from etl_verkada_spark.catalog import table as cat_table

    docs = {
        r["doc_id"]: r["text"].split(" ")
        for r in cat_table(spark, SF_SMALL, "documents").collect()
    }
    by_doc: dict = {}
    for r in chunks:
        by_doc.setdefault(r["doc_id"], []).append(r)
        toks = docs[r["doc_id"]]
        want = toks[r["start_tok"] - 1 : r["start_tok"] - 1 + CHUNK_TOKENS]
        assert r["chunk_text"] == " ".join(want)
        assert r["n_tokens"] == len(want)
    for doc_id, toks in docs.items():
        rows = sorted(by_doc[doc_id], key=lambda r: r["chunk_idx"])
        assert rows[0]["start_tok"] == 1
        covered = set()
        for r in rows:
            covered.update(
                range(r["start_tok"], r["start_tok"] + r["n_tokens"])
            )
        assert covered == set(range(1, len(toks) + 1)), doc_id
        # consecutive chunks advance by exactly the stride
        starts = [r["start_tok"] for r in rows]
        assert all(
            b - a == CHUNK_STRIDE for a, b in zip(starts, starts[1:])
        )


def test_kmeans_assign_matches_numpy_argmin(spark):
    """The struct-argmin assignment must equal an independent numpy
    recomputation of nearest-centroid on the same global-int8 domain."""
    import numpy as np
    from etl_verkada_spark.llm.similarity import (
        llm_kmeans_assign, _global_q, KMEANS_K,
    )
    from .conftest import SF_SMALL

    q = {
        r["vec_id"]: np.array(r["q"], dtype=np.int64)
        for r in _global_q(spark, SF_SMALL).collect()
    }
    cents = {k: q[k] for k in sorted(q)[:KMEANS_K]}
    got = {
        r["vec_id"]: (r["centroid_id"], r["dist2_q"])
        for r in llm_kmeans_assign(spark, SF_SMALL).collect()
    }
    assert set(got) == set(q)
    for vid, vec in q.items():
        dists = {
            cid: int(((vec - cvec) ** 2).sum()) for cid, cvec in cents.items()
        }
        best = min(dists.items(), key=lambda kv: (kv[1], kv[0]))
        assert got[vid] == best, (vid, got[vid], best)


def test_embed_rp_matches_numpy_projection(spark):
    """The 8 fold expressions must equal the numpy matrix product of the
    quantized vectors with the seeded +-1 matrix."""
    import numpy as np
    from etl_verkada_spark.llm.similarity import (
        llm_embed_rp, _global_q, _rp_signs, RP_DIMS,
    )
    from .conftest import SF_SMALL

    signs = np.array(_rp_signs(), dtype=np.int64)  # (8, 64)
    q = {
        r["vec_id"]: np.array(r["q"], dtype=np.int64)
        for r in _global_q(spark, SF_SMALL).collect()
    }
    for r in llm_embed_rp(spark, SF_SMALL).collect():
        want = signs @ q[r["vec_id"]]
        got = np.array([r[f"rp_{j}"] for j in range(RP_DIMS)])
        assert (want == got).all(), r["vec_id"]


def test_kmeans_train_matches_numpy_lloyds(spark):
    """The 3-iteration DataFrame loop must equal an independent numpy
    Lloyd's run with the same seeding, floor-divide update, and
    (dist, cid) tie-break."""
    import numpy as np
    from etl_verkada_spark.llm.similarity import (
        llm_kmeans_train, _global_q, KMEANS_K, KMEANS_ITERS,
    )
    from .conftest import SF_SMALL

    q = {
        r["vec_id"]: np.array(r["q"], dtype=np.int64)
        for r in _global_q(spark, SF_SMALL).collect()
    }
    cents = {k: q[k].astype(np.float64) for k in sorted(q)[:KMEANS_K]}
    assign: dict = {}
    for _ in range(KMEANS_ITERS):
        assign = {}
        for vid, vec in q.items():
            dists = {
                cid: int(((vec - cvec.astype(np.int64)) ** 2).sum())
                for cid, cvec in cents.items()
            }
            assign[vid] = min(dists.items(), key=lambda kv: (kv[1], kv[0]))[0]
        new = {}
        for cid in cents:
            members = [q[v] for v, c in assign.items() if c == cid]
            if members:
                new[cid] = np.floor(
                    np.sum(members, axis=0) / len(members)
                ).astype(np.int64)
        cents = new
    got = {
        r["centroid_id"]: (
            r["n_members"],
            [int(x) for x in r["cq_csv"].split(",")],
        )
        for r in llm_kmeans_train(spark, SF_SMALL).collect()
    }
    want = {
        cid: (
            sum(1 for c in assign.values() if c == cid),
            [int(x) for x in cvec],
        )
        for cid, cvec in cents.items()
    }
    assert got == want


def test_pq_ann_matches_numpy_adc(spark):
    """llm_sim_ann_pq must equal an independent numpy recomputation of
    the whole PQ pipeline: subspace encode (argmin-d2, tie to lower
    code), packed code, ADC lookup-sum, (adc_d2, vec_id) top-k, exact
    rescore."""
    import numpy as np
    from etl_verkada_spark.llm.similarity import (
        llm_sim_ann_pq, _global_q,
        PQ_M, PQ_SUB, PQ_K, QUERY_VEC_ID, TOP_K,
    )
    from .conftest import SF_SMALL

    q = {
        r["vec_id"]: np.array(r["q"], dtype=np.int64)
        for r in _global_q(spark, SF_SMALL).collect()
    }
    seeds = sorted(q)[:PQ_K]
    # codebook[m][code] = subvector
    cb = {
        m: {c: q[s][m * PQ_SUB:(m + 1) * PQ_SUB]
            for c, s in enumerate(seeds)}
        for m in range(PQ_M)
    }
    codes = {}
    for vid, vec in q.items():
        codes[vid] = [
            min(
                ((int(((vec[m * PQ_SUB:(m + 1) * PQ_SUB] - cw) ** 2).sum()), c)
                 for c, cw in cb[m].items()),
            )[1]
            for m in range(PQ_M)
        ]
    qvec = q[QUERY_VEC_ID]
    adc = {
        (m, c): int(((qvec[m * PQ_SUB:(m + 1) * PQ_SUB] - cw) ** 2).sum())
        for m in range(PQ_M) for c, cw in cb[m].items()
    }
    approx = {
        vid: sum(adc[(m, c)] for m, c in enumerate(cs))
        for vid, cs in codes.items()
    }
    want_top = sorted(
        ((d, vid) for vid, d in approx.items() if vid != QUERY_VEC_ID)
    )[:TOP_K]
    want = {
        vid: (
            sum(c * PQ_K ** m for m, c in enumerate(codes[vid])),
            d,
            int(((q[vid] - qvec) ** 2).sum()),
        )
        for d, vid in want_top
    }
    got = {
        r["vec_id"]: (r["pq_code"], r["adc_d2"], r["d2_exact"])
        for r in llm_sim_ann_pq(spark, SF_SMALL).collect()
    }
    assert got == want


def test_prefix_filter_candidates_cover_all_qualifying_pairs(spark):
    """The PPJoin prefix lemma, pinned: candidate pairs from the
    rarest-shingle prefixes must be a SUPERSET of every pair whose
    exact Jaccard clears PF_TAU (recall 1 is the operator's whole
    contract; the verify step only ever removes rows)."""
    from .conftest import SF_SMALL
    from etl_verkada_spark.catalog import table
    from etl_verkada_spark.llm.dedup import (
        PF_TAU,
        ngram_jaccard_pairs,
        prefix_filter_pairs,
    )

    docs = table(spark, SF_SMALL, "documents")
    cands = {
        (r["doc_a"], r["doc_b"])
        for r in prefix_filter_pairs(docs).collect()
    }
    truth = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(docs)
        .filter(F.col("jaccard") >= PF_TAU)
        .collect()
    }
    assert truth <= cands, sorted(truth - cands)[:5]
    # and the filter actually filters: the candidate set must be much
    # smaller than the all-pairs cross product of docs sharing a shingle
    assert len(cands) < 10 * max(len(truth), 1)


def test_bpe_pair_count_matches_corpus_recount(spark):
    """Word-frequency-weighted pair counts == naive per-occurrence
    recount over the raw corpus (the vocabulary collapse must be a pure
    optimization, never a semantic change)."""
    from etl_verkada_spark.llm.bpe import llm_bpe_pair_count

    rows = [
        (0, "aaa ab"),        # 'aa' twice in one word occurrence
        (1, "aaa aaa"),       # the same word twice -> weight 2
        (2, "xy"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    naive: dict[str, int] = {}
    for _, text in rows:
        for w in text.split(" "):
            if len(w) >= 2:
                for i in range(len(w) - 1):
                    p = w[i : i + 2]
                    naive[p] = naive.get(p, 0) + 1

    import etl_verkada_spark.llm.bpe as bpe_mod
    import etl_verkada_spark.catalog as cat

    orig = cat.table
    try:
        cat_table = lambda s, d, t: docs  # noqa: E731
        bpe_mod.table = cat_table
        got = {r["pair"]: r["n"] for r in llm_bpe_pair_count(spark, "x").collect()}
    finally:
        bpe_mod.table = orig
    assert got == naive  # 3 distinct words -> well under BPE_TOP
    assert got["aa"] == 6  # 2 per 'aaa' occurrence x 3 occurrences


def test_length_buckets_invariants(spark):
    """Every batch honors the geometry: <= BATCH_DOCS docs, pad_len in
    the batch's own bucket, non-negative waste, and doc conservation."""
    from .conftest import SF_SMALL
    from etl_verkada_spark.catalog import table
    from etl_verkada_spark.llm.packing import (
        BATCH_DOCS,
        BUCKET_TOKENS,
        llm_length_buckets,
    )

    out = llm_length_buckets(spark, SF_SMALL).collect()
    n_docs_total = table(spark, SF_SMALL, "documents").count()
    assert sum(r["n_docs"] for r in out) == n_docs_total
    for r in out:
        assert 1 <= r["n_docs"] <= BATCH_DOCS
        assert r["pad_len"] // BUCKET_TOKENS == r["bucket"]
        assert r["waste_tok"] >= 0
        assert r["n_docs"] * r["pad_len"] == r["sum_tok"] + r["waste_tok"]


def test_vocab_coverage_invariants(spark):
    """OOV counts are bounded by token counts, ppm is the exact integer
    floor, and a doc made entirely of top-vocab words scores 0 OOV."""
    from .conftest import SF_SMALL
    from etl_verkada_spark.llm.text import llm_vocab_coverage

    rows = llm_vocab_coverage(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_oov"] <= r["n_tok"]
        assert r["oov_ppm"] == r["n_oov"] * 1_000_000 // r["n_tok"]


# -- BPE training loop (round 8) --------------------------------------------


def test_bpe_greedy_merge_textbook_edges(spark):
    """The greedy left-to-right pair merge must resolve overlapping
    matches the way every real BPE trainer does: within a run of
    consecutive matches, every other position starting at the head.
    'aaa' + (a,a) -> 'aa a' (never 'a aa'); 'abab' + (a,b) -> 'ab ab';
    'aab' -> 'a ab'. The round-10 regexp form (_apply_merge, the one
    the training loop now runs) must agree with the positional
    _merge_step on every edge case — the equivalence pin that lets the
    narrow-map plan replace the join+windows plan."""
    from pyspark.sql import functions as F

    from etl_verkada_spark.llm.bpe import (
        _apply_merge, _merge_step, _positions,
    )

    words = spark.createDataFrame(
        [("aaa", 1, "a a a"), ("abab", 1, "a b a b"), ("aab", 1, "a a b"),
         ("aaaa", 1, "a a a a"), ("ba", 1, "b a")],
        "w string, wn long, seq string",
    )
    for pair, expect in [
        (("a", "a"), {"aaa": "aa a", "abab": "a b a b", "aab": "aa b",
                      "aaaa": "aa aa", "ba": "b a"}),
        (("a", "b"), {"aaa": "a a a", "abab": "ab ab", "aab": "a ab",
                      "aaaa": "a a a a", "ba": "b a"}),
    ]:
        top1 = spark.createDataFrame([pair], "a string, b string")
        got = {
            r["w"]: r["seq"]
            for r in _merge_step(_positions(words), top1).collect()
        }
        assert got == expect, (pair, got)
        got_re = {
            r["w"]: r["seq"]
            for r in _apply_merge(words, *pair).collect()
        }
        assert got_re == expect, (pair, got_re)


def test_bpe_train_merges_are_ordered_and_disjoint(spark):
    """Each training step's winning pair must be composed of symbols
    that exist after the previous merges; counts are positive and the
    step column is 1..K."""
    from etl_verkada_spark.llm.bpe import BPE_TRAIN_ITERS, llm_bpe_train

    rows = llm_bpe_train(spark, "/root/testdata/sf0.001").collect()
    assert [r["step"] for r in rows] == list(range(1, BPE_TRAIN_ITERS + 1))
    assert all(r["n"] > 0 for r in rows)
    assert all(r["merged"] == r["a"] + r["b"] for r in rows)


# --- round-10: winnowing -----------------------------------------------------

def test_winnowing_coverage_guarantee(spark):
    """The defining winnowing property: every window of WINNOW_W
    consecutive k-gram hashes contains at least one SELECTED
    fingerprint (recomputed row-by-row in Python from the same md5
    slices), and every selected fingerprint is some window's minimum."""
    import hashlib

    from etl_verkada_spark.llm.text import WINNOW_W, llm_winnowing

    from .conftest import SF_SMALL

    got = llm_winnowing(spark, SF_SMALL).collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])

    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    }

    def h(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    checked_windows = 0
    for doc_id, text in docs.items():
        ws = text.split(" ")
        if len(ws) >= 4:
            grams = [" ".join(ws[i : i + 4]) for i in range(len(ws) - 3)]
        else:
            grams = [text]
        hs = [h(g) for g in grams]
        sel = by_doc[doc_id]
        if len(hs) < WINNOW_W:
            assert sel == {min(hs)}
            continue
        mins = set()
        for i in range(len(hs) - WINNOW_W + 1):
            wmin = min(hs[i : i + WINNOW_W])
            mins.add(wmin)
            assert wmin in sel, (doc_id, i)
            checked_windows += 1
        assert sel == mins, doc_id
    assert checked_windows > 0


def test_reservoir_sample_exact_size_per_group(spark):
    """Exactly min(K, group size) rows per language, and the kept set
    is the K smallest md5 keys (total order, engine-independent)."""
    import hashlib

    from etl_verkada_spark.llm.sampling import (
        RESERVOIR_K,
        llm_sample_reservoir,
    )

    from .conftest import SF_SMALL

    got = {}
    for r in llm_sample_reservoir(spark, SF_SMALL).collect():
        got.setdefault(r["lang"], set()).add(r["doc_id"])
    docs = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select("doc_id", "lang")
        .collect()
    )
    by_lang = {}
    for r in docs:
        by_lang.setdefault(r["lang"], []).append(r["doc_id"])
    for lang, ids in by_lang.items():
        ranked = sorted(
            ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
        )
        assert got[lang] == set(ranked[: RESERVOIR_K]), lang


def test_eval_ngram_recall_python_recompute(spark):
    """precision/recall ppm agree with a Python recompute over the
    4-gram sets of each blocked pair."""
    from etl_verkada_spark.llm.text import llm_eval_ngram_recall

    from .conftest import SF_SMALL

    got = {
        (r["doc_a"], r["doc_b"]): (
            r["n_common"],
            r["precision_ppm"],
            r["recall_ppm"],
        )
        for r in llm_eval_ngram_recall(spark, SF_SMALL).collect()
    }
    assert got, "no fingerprint-blocked pairs at sf0.001"
    texts = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    }

    def grams(t):
        ws = t.split(" ")
        if len(ws) >= 4:
            return {" ".join(ws[i : i + 4]) for i in range(len(ws) - 3)}
        return {t}

    for (a, b), (n_common, p_ppm, r_ppm) in got.items():
        ga, gb = grams(texts[a]), grams(texts[b])
        inter = len(ga & gb)
        assert n_common == inter, (a, b)
        assert p_ppm == inter * 1_000_000 // len(ga)
        assert r_ppm == inter * 1_000_000 // len(gb)


def test_bloom_prejoin_invariants(spark):
    """is_exact_dup equals a direct digest-membership recompute; every
    exact dup is bloom_maybe=1 (no false negatives — vacuously true on
    this duplicate-free corpus, asserted anyway); and a Python replay
    of the bit arithmetic reproduces the bloom_maybe column exactly,
    INCLUDING the false positives — the property that makes a
    probabilistic structure oracle-checkable. At sf0.01 (~25% bit
    load) false positives must actually occur."""
    import hashlib

    from etl_verkada_spark.llm.dedup import (
        BLOOM_K,
        BLOOM_M_BITS,
        llm_dedup_bloom,
    )
    from etl_verkada_spark.llm.text import normalized_text
    from etl_verkada_spark.catalog import table as cat_table
    import pyspark.sql.functions as F

    sf = "/root/testdata/sf0.01"
    got = {
        r["doc_id"]: (r["bloom_maybe"], r["is_exact_dup"])
        for r in llm_dedup_bloom(spark, sf).collect()
    }
    docs = cat_table(spark, sf, "documents").select(
        "doc_id", F.md5(normalized_text()).alias("dg")
    ).collect()
    hist = [r for r in docs if r["doc_id"] % 10 < 8]
    inc = [r for r in docs if r["doc_id"] % 10 >= 8]
    assert set(got) == {r["doc_id"] for r in inc}

    def bits(dg: str) -> list[int]:
        return [
            int(dg[j * 8: j * 8 + 8], 16) % BLOOM_M_BITS
            for j in range(BLOOM_K)
        ]

    bloom = set()
    for r in hist:
        bloom.update(bits(r["dg"]))
    hist_dgs = {r["dg"] for r in hist}
    n_fp = 0
    for r in inc:
        maybe = 1 if all(b in bloom for b in bits(r["dg"])) else 0
        is_dup = 1 if r["dg"] in hist_dgs else 0
        assert got[r["doc_id"]] == (maybe, is_dup), r["doc_id"]
        if is_dup:
            assert maybe == 1, "false negative!"
        if maybe and not is_dup:
            n_fp += 1
    assert n_fp > 0, "no false positives at sf0.01 — m is oversized"


def test_tokenizer_fertility_invariants(spark):
    """Fertility is bounded below by 1e6 ppm (a word is >= 1 token) and
    above by max word length x 1e6; totals are consistent."""
    from etl_verkada_spark.llm.bpe import llm_tokenizer_fertility

    from .conftest import SF_SMALL

    rows = llm_tokenizer_fertility(spark, SF_SMALL).collect()
    assert rows, "no languages"
    for r in rows:
        assert r["n_words"] > 0
        assert r["n_tokens"] >= r["n_words"]
        assert r["fertility_ppm"] >= 1_000_000
        assert r["fertility_ppm"] == r["n_tokens"] * 1_000_000 // r["n_words"]


def test_phash_bit_surface_invariants(spark):
    """Hash length equals the image's non-empty 8x8 cells (dims-derived),
    n_ones counts its 1-bits, and group sizes partition the corpus."""
    from etl_verkada_spark.llm.multimodal import mm_phash

    from .conftest import SF_SMALL

    rows = mm_phash(spark, SF_SMALL).collect()
    assert rows
    total = 0
    seen_groups = {}
    for r in rows:
        w = 8 + (r["doc_id"] % 4) * 4
        h = 6 + (r["doc_id"] % 3) * 2
        n_cells = len({x * 8 // h for x in range(h)}) * len(
            {x * 8 // w for x in range(w)}
        )
        assert len(r["phash"]) == n_cells, (r["doc_id"], w, h)
        assert r["n_ones"] == r["phash"].count("1")
        seen_groups.setdefault(r["phash"], set()).add(r["doc_id"])
        total += 1
    assert all(
        len(v) == next(
            rr["group_size"] for rr in rows if rr["phash"] == k
        )
        for k, v in list(seen_groups.items())[:20]
    )
    assert total == sum(len(v) for v in seen_groups.values())


def test_dataset_card_internal_consistency(spark):
    """Card totals cross-check against independent recomputes: doc
    counts partition the corpus, top_lang ppm <= 1e6, dup rate 0 when
    all digests are unique."""
    from etl_verkada_spark.llm.text import llm_dataset_card

    from .conftest import SF_SMALL

    from etl_verkada_spark.catalog import table

    rows = llm_dataset_card(spark, SF_SMALL).collect()
    assert rows
    docs = table(spark, SF_SMALL, "documents")
    n_total = docs.count()
    assert sum(r["n_docs"] for r in rows) == n_total
    for r in rows:
        assert 0 < r["top_lang_ppm"] <= 1_000_000
        assert 0 <= r["exact_dup_ppm"] < 1_000_000
        assert r["mean_doc_tokens"] == r["n_tokens"] / r["n_docs"]
        assert r["n_langs"] >= 1


def test_containment_finds_planted_excerpt(spark):
    """A short doc fully contained in a long doc must be flagged in the
    contained->container direction only (Jaccard would miss it)."""
    from etl_verkada_spark.llm.dedup import llm_dedup_containment

    # build a corpus-like frame: route through a temp parquet dir so the
    # operator's table() loader sees it
    import tempfile

    long_text = " ".join(f"w{i}" for i in range(200))
    quote = " ".join(f"w{i}" for i in range(50, 70))  # strict excerpt
    other = " ".join(f"x{i}" for i in range(100))
    df = spark.createDataFrame(
        [(1, long_text, "en", "s", len(long_text)),
         (2, quote, "en", "s", len(quote)),
         (3, other, "en", "s", len(other))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(f"{d}/documents.parquet")
        got = {
            (r["doc_a"], r["doc_b"]): r["containment_ppm"]
            for r in llm_dedup_containment(spark, d).collect()
        }
    assert (2, 1) in got and got[(2, 1)] == 1_000_000
    assert (1, 2) not in got          # direction matters
    assert all(3 not in p for p in got)


def test_bloom_reads_text_once(spark):
    """llm_dedup_bloom's digest table is localCheckpointed (SCALE.md
    §27c): the returned plan must contain ZERO parquet scans of the
    documents table — every consumer (filter build, probe, both exact
    sides) reads the materialized (doc_id, digest) RDD, so the corpus
    text is scanned exactly once, at checkpoint time."""
    from etl_verkada_spark.llm.dedup import llm_dedup_bloom

    df = llm_dedup_bloom(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" not in plan and "FileScan" not in plan, plan
