"""Layer-3 property tests (SURVEY.md §5.2) for the probabilistic /
rows-only LLM-pipeline ops: planted duplicates must be found; LSH
recall vs the exact oracle must clear the floor."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from engine.registry import all_queries
from engine.similarity import minhash_pairs, simhash_df

from .conftest import SF_SMOKE

QUERIES = all_queries()

_VOCAB = [f"w{i}" for i in range(500)]


def _doc(rng: random.Random, n: int = 100) -> str:
    return " ".join(rng.choice(_VOCAB) for _ in range(n))


def _planted_docs(spark, n_base: int = 40):
    """Corpus with exact dups (id+1000) and near-dups (id+2000, 3 of 100
    tokens perturbed) planted for each of the first 5 base docs."""
    rng = random.Random(42)
    rows = [(i, _doc(rng)) for i in range(n_base)]
    for i in range(5):
        base = rows[i][1]
        rows.append((1000 + i, base))  # exact dup
        toks = base.split(" ")
        for j in (3, 40, 77):
            toks[j] = "zz" + str(j)
        rows.append((2000 + i, " ".join(toks)))  # near dup (~94% jaccard tokens)
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_finds_planted_dups(spark):
    docs = _planted_docs(spark)
    pairs = {(r["a"], r["b"]) for r in minhash_pairs(docs, threshold=0.5).collect()}
    for i in range(5):
        assert (i, 1000 + i) in pairs, f"exact dup {i} missed"
        assert (i, 2000 + i) in pairs, f"near dup {i} missed"


def test_simhash_exact_dups_identical_and_neardups_close(spark):
    docs = _planted_docs(spark)
    sh = {r["doc_id"]: r["simhash"] for r in simhash_df(docs).collect()}
    for i in range(5):
        assert sh[i] == sh[1000 + i], f"exact dup {i}: simhash differs"
        ham = bin((sh[i] ^ sh[2000 + i]) & ((1 << 64) - 1)).count("1")
        assert ham <= 16, f"near dup {i}: hamming {ham} too far"
    # unrelated docs should NOT collide
    others = [bin((sh[0] ^ sh[j]) & ((1 << 64) - 1)).count("1") for j in range(10, 30)]
    assert min(others) > 10


def test_ngram_jaccard_scores_planted_dups(spark):
    docs = _planted_docs(spark)
    from engine.similarity import _shingles

    sh = (
        docs.select("doc_id", F.split("text", " ").alias("toks"))
        .filter(F.size("toks") >= 5)
        .select("doc_id", F.explode(F.array_distinct(_shingles())).alias("s"))
    )
    counts = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("a"), F.col("b.doc_id").alias("b"))
        .agg(F.count("*").alias("c"))
    )
    ca = counts.select(F.col("doc_id").alias("a"), F.col("n").alias("na"))
    cb = counts.select(F.col("doc_id").alias("b"), F.col("n").alias("nb"))
    jac = F.col("c") / (F.col("na") + F.col("nb") - F.col("c") * F.lit(1.0))
    got = {
        (r["a"], r["b"]): r["j"]
        for r in common.join(ca, "a").join(cb, "b").select("a", "b", jac.alias("j")).collect()
    }
    for i in range(5):
        assert got.get((i, 1000 + i)) == 1.0  # identical shingle sets
        assert got.get((i, 2000 + i), 0.0) > 0.6  # 3 perturbed tokens


def _recall(approx_rows, exact_rows) -> float:
    ex = {}
    for r in exact_rows:
        ex.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    ap = {}
    for r in approx_rows:
        ap.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    scores = [len(ex[q] & ap.get(q, set())) / len(ex[q]) for q in ex]
    return sum(scores) / len(scores)


def test_lsh_topk_recall_vs_exact(spark):
    exact = QUERIES["sim_cosine_topk_exact"](spark, SF_SMOKE).collect()
    approx = QUERIES["sim_cosine_topk_lsh"](spark, SF_SMOKE).collect()
    assert _recall(approx, exact) >= 0.8


def test_lsh_bucket_split_and_multiprobe(spark, monkeypatch):
    """Pin the r10 LSH scale controls (similarity.py): with the
    constants patched so BOTH engage at SF_SMOKE — adaptive width
    (w = 0.5·min(1, occ/N) < 0.5 → query-side multi-probe hkey±1) and
    the hot-bucket split (buckets past target split on
    pmod(xxhash64(vec_id, tbl), s)) — the engine's candidate pairs must
    equal a from-scratch Python recomputation of the bucket/split/probe
    rule, with the ±1 projection signs derived here independently from
    md5('lsh:<t>:<d>'). The unpatched path is pinned by the key's DuckDB
    oracle, and the recall floor test above runs the default
    constants."""
    import functools
    import hashlib
    import math
    import operator
    from collections import Counter, defaultdict

    import engine.similarity as S

    monkeypatch.setattr(S, "_LSH_TARGET_OCC", 100)
    monkeypatch.setattr(S, "_LSH_BUCKET_TARGET", 24)
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in S._lsh_pairs(
            spark, SF_SMOKE, S._l2_norm(S.T(spark, SF_SMOKE, "embeddings"))
        ).collect()
    }

    def fold(xs):  # left fold from 0.0 — the order F.aggregate adds in
        return functools.reduce(operator.add, xs, 0.0)

    signs = [
        [
            1 if int(hashlib.md5(f"lsh:{t}:{d}".encode()).hexdigest()[0], 16) % 2 == 0
            else -1
            for d in range(64)
        ]
        for t in range(4)
    ]
    emb = spark.read.parquet(SF_SMOKE + "/embeddings.parquet")
    rows = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("e"),
        *[F.xxhash64("vec_id", F.lit(t)).alias(f"h{t}") for t in range(4)],
    ).collect()
    w = 0.5 * min(1.0, 100 / len(rows))
    assert w < 0.5  # multi-probe engaged
    hashed = []  # (vec_id, tbl, hkey, h64)
    for r in rows:
        nrm = math.sqrt(fold(x * x for x in r["e"]))
        en = [x / nrm for x in r["e"]]
        for t in range(4):
            hkey = math.floor(fold(x * g for x, g in zip(en, signs[t])) / 8 / w)
            hashed.append((r["vec_id"], t, hkey, r[f"h{t}"]))
    size = Counter((t, hk) for _v, t, hk, _h in hashed)
    s = {b: max(1, math.ceil(c / 24)) for b, c in size.items()}
    assert max(s.values()) > 1  # split engaged
    buckets = defaultdict(set)
    for v, t, hk, h in hashed:
        # python % on a positive modulus is nonnegative == F.pmod
        buckets[(t, hk, h % s[(t, hk)])].add(v)
    expected = set()
    for v, t, hk, h in hashed:
        if v >= 5:
            continue
        for off in (-1, 0, 1):
            b = (t, hk + off)
            if b not in s:
                continue
            expected |= {(v, u) for u in buckets[(*b, h % s[b])] if u != v}
    assert got == expected


def test_ivf_topk_recall_vs_exact(spark):
    exact = QUERIES["sim_cosine_topk_exact"](spark, SF_SMOKE).collect()
    approx = QUERIES["sim_cosine_topk_ivf"](spark, SF_SMOKE).collect()
    assert _recall(approx, exact) >= 0.6


def test_ivf_pq_composite_structure_probe_confinement_and_dpp(spark):
    """The production composite (IVF coarse probe + residual PQ/ADC
    within probed cells + exact refine of the shortlist,
    engine/similarity.py): (a) structural gates — exactly TOPK ranked
    neighbors per query, never self, EXACT cos descending in rank (the
    r12 refine re-ranks on full precision, so adc need not be monotone
    in the final rank — only present); (b) every returned neighbor's
    cell must be one of the query's nprobe=_IVF_PQ_NPROBE probed
    cells, recomputed here from the materialized assignment +
    centroids with the key's own micro-unit rounding; (c) the recall
    self-audit beats chance; (d) the codes scan is dynamic-partition-
    pruned by the broadcast probe join (the cell-partitioned layout is
    the 100 TB point of the key)."""
    import math

    from engine.kmeans import materialize_assignments, materialize_means
    from engine.similarity import _IVF_PQ_NPROBE, _PQ_TOPK

    df = QUERIES["sim_cosine_topk_ivf_pq"](spark, SF_SMOKE)
    rows = df.collect()
    byq = {}
    for r in rows:
        byq.setdefault(r["query_id"], []).append(r)
    assert sorted(byq) == list(range(_PQ_TOPK))
    for q, rs in byq.items():
        assert sorted(r["rnk"] for r in rs) == list(range(1, _PQ_TOPK + 1))
        assert all(r["neighbor_id"] != q for r in rs)
        coss = [r["cos"] for r in sorted(rs, key=lambda r: r["rnk"])]
        assert coss == sorted(coss, reverse=True)
        assert all(r["adc"] is not None for r in rs)

    asg = {
        r["vec_id"]: r["cluster"]
        for r in spark.read.parquet(
            materialize_assignments(spark, SF_SMOKE)
        ).collect()
    }
    _path, means = materialize_means(spark, SF_SMOKE)
    emb = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in spark.read.parquet(SF_SMOKE + "/embeddings.parquet").collect()
    }

    def probed(qid):
        def dist(c):
            d = math.sqrt(sum((x - y) ** 2 for x, y in zip(emb[qid], c)))
            return math.floor(d * 1e6 + 0.5) / 1e6

        return set(
            sorted(range(len(means)), key=lambda i: (dist(means[i]), i))[
                :_IVF_PQ_NPROBE
            ]
        )

    for r in rows:
        assert asg[r["neighbor_id"]] in probed(r["query_id"]), r

    n = len(emb)
    recall = sum(r["in_exact"] for r in rows) / len(rows)
    chance = _PQ_TOPK / (n - 1)
    assert recall >= max(0.15, 10 * chance), (recall, chance)

    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), "codes scan lost DPP"


def test_pq_topk_structure_and_self_audit(spark):
    """PQ/ADC on isotropic random embeddings is the hard case (no
    cluster structure to exploit — measured recall ~0.36 at K=64, and
    Lloyd refinement does not improve it), so the gate is structural
    plus better-than-chance: exactly TOPK ranked neighbors per query,
    never self, and the self-audit in_exact column must beat the random
    baseline TOPK/(N-1) by a wide margin."""
    from engine.similarity import _PQ_TOPK

    rows = QUERIES["sim_cosine_topk_pq"](spark, SF_SMOKE).collect()
    byq = {}
    for r in rows:
        byq.setdefault(r["query_id"], []).append(r)
    assert sorted(byq) == list(range(_PQ_TOPK))
    for q, rs in byq.items():
        assert sorted(r["rnk"] for r in rs) == list(range(1, _PQ_TOPK + 1))
        assert all(r["neighbor_id"] != q for r in rs)
        adcs = [r["adc"] for r in sorted(rs, key=lambda r: r["rnk"])]
        assert adcs == sorted(adcs, reverse=True)
    n = spark.read.parquet(SF_SMOKE + "/embeddings.parquet").count()
    recall = sum(r["in_exact"] for r in rows) / len(rows)
    chance = _PQ_TOPK / (n - 1)
    assert recall >= max(0.15, 10 * chance), (recall, chance)


def test_multimodal_decode_shape(spark):
    df = QUERIES["multimodal_decode"](spark, SF_SMOKE)
    rows = df.collect()
    assert rows
    for r in rows[:20]:
        assert r["thumb_w"] <= 256 and r["thumb_h"] <= 256
        assert r["n_bytes"] > 0
    # deterministic: same input → same fake dimensions
    again = QUERIES["multimodal_decode"](spark, SF_SMOKE).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_multimodal_phash_finds_planted_duplicate_groups(spark):
    """The media generator aliases doc_id % 16 → identical BMPs; the
    REAL pHash (decode → luma → DCT sign bits) must bucket exactly those
    groups together."""
    rows = QUERIES["multimodal_phash_dedup"](spark, SF_SMOKE).collect()
    assert rows, "no duplicate buckets found"
    for r in rows:
        ids = [int(x) for x in r["docs"].split(",")]
        # image/bmp rows are doc_id % 3 == 0; within a bucket all ids
        # must share doc_id % 48 (same %16 class among %3==0 ids)
        assert len({i % 48 for i in ids}) == 1, r


def test_multimodal_audio_features_real_wav(spark):
    """Audio features come from a REAL WAV decode: duration must match
    the generator's formula and RMS a sine's amplitude/√2."""
    rows = QUERIES["multimodal_audio_features"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows[:20]:
        expect_s = 0.05 + (r["doc_id"] % 5) * 0.025
        assert abs(r["duration_s"] - expect_s) < 1e-3, r
        assert 0.2 < r["rms"] < 0.3, r
        assert r["zcr"] > 0, r


def test_connected_components_planted_chain(spark):
    from engine.similarity import connected_components

    # chain 1-2-3, pair 10-11, isolated pairless nodes don't appear
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "a long, b long"
    )
    comp = {r["node"]: r["label"] for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_connected_components_paths_agree(spark, monkeypatch):
    """The driver union-find and the distributed min-label loop must
    compute the IDENTICAL fixpoint (a ceiling of 0 forces the
    distributed path on the same graph)."""
    import random

    import engine.similarity as S
    from engine.similarity import connected_components

    rng = random.Random(13)
    pairs = spark.createDataFrame(
        [(rng.randrange(60), rng.randrange(60)) for _ in range(80)],
        "a long, b long",
    ).filter("a != b")
    fast = {r["node"]: r["label"] for r in connected_components(pairs).collect()}
    monkeypatch.setattr(S, "_CC_DRIVER_EDGES", 0)
    dist = {r["node"]: r["label"] for r in connected_components(pairs).collect()}
    assert fast == dist


def test_connected_components_restores_confs_when_a_round_raises(
    spark, monkeypatch
):
    """The distributed loop right-sizes spark.sql.shuffle.partitions for
    its rounds; a round that raises must still hand the session back
    with its own width, or every later query runs at the loop's."""
    import pytest

    import engine.similarity as S
    from engine.session import session_confs

    def boom(self, eager=True):
        raise RuntimeError("round failed")

    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "a long, b long")
    monkeypatch.setattr(S, "_CC_DRIVER_EDGES", 0)
    monkeypatch.setattr(type(pairs), "localCheckpoint", boom)
    with session_confs(spark, {"spark.sql.shuffle.partitions": "7"}):
        with pytest.raises(RuntimeError, match="round failed"):
            S.connected_components(pairs)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"


def test_dedup_clusters_on_planted(spark):
    from engine.similarity import _shingles, connected_components
    from pyspark.sql import functions as F

    docs = _planted_docs(spark)
    sh = (
        docs.select("doc_id", F.split("text", " ").alias("toks"))
        .filter(F.size("toks") >= 5)
        .select("doc_id", F.explode(F.array_distinct(_shingles())).alias("s"))
    )
    a, b = sh.alias("a"), sh.alias("b")
    pairs = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("a"), F.col("b.doc_id").alias("b"))
        .distinct()
    )
    comp = {r["node"]: r["label"] for r in connected_components(pairs).collect()}
    for i in range(5):
        assert comp.get(1000 + i) == i  # exact dup joins base cluster
        assert comp.get(2000 + i) == i  # near dup shares shingles -> same cluster


def test_kmeans_ml_variant_reasonable(spark):
    rows = QUERIES["so_kmeans_ml"](spark, SF_SMOKE).collect()
    assert sum(r["size"] for r in rows) == 500
    assert 2 <= len(rows) <= 10


def test_jaccard_hot_shingle_df_cap(spark):
    """Planted stop-shingle: a shingle shared by EVERY doc must be
    dropped by the df cap (max_df) — pairs related only through the hot
    shingle disappear, while genuinely-duplicate pairs survive with
    their Jaccard computed over the capped vocabulary."""
    from engine.similarity import jaccard_pairs

    rng = random.Random(7)
    # a universal 5-token prefix => one shingle in every document
    stop = "the quick brown fox jumps"
    rows = [(i, stop + " " + _doc(rng)) for i in range(30)]
    rows.append((1000, rows[0][1]))  # exact dup of doc 0
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    capped = jaccard_pairs(docs, max_df=10)
    got = {(r["a"], r["b"]): r["jaccard"] for r in capped.collect()}
    # the exact dup survives at jaccard 1.0 over the capped vocabulary
    assert got.get((0, 1000)) == 1.0
    # unrelated docs share ONLY hot shingles -> no pair may appear
    unrelated = [k for k in got if k != (0, 1000)]
    assert not unrelated, f"hot-shingle-only pairs leaked: {unrelated[:5]}"

    # without the cap the same corpus yields no extra >=0.5 pairs either
    # (threshold prunes them) but the CANDIDATE join is what the cap
    # bounds; assert the capped index really dropped the stop shingles:
    uncapped = jaccard_pairs(docs, max_df=10**9)
    assert {(r["a"], r["b"]) for r in uncapped.collect()} >= set(got)


def test_ann_partitioned_probe_matches_ivf_join(spark):
    """The physical (partition-pruned) IVF probe must return exactly the
    join-formulated IVF results (same memoized centroids)."""
    from .conftest import SF_SMOKE

    a = {
        (r["query_id"], r["neighbor_id"], r["rnk"])
        for r in QUERIES["sim_ann_partitioned_probe"](spark, SF_SMOKE).collect()
    }
    b = {
        (r["query_id"], r["neighbor_id"], r["rnk"])
        for r in QUERIES["sim_cosine_topk_ivf"](spark, SF_SMOKE).collect()
    }
    assert a == b


def test_pagerank_paths_agree(spark, monkeypatch):
    """Driver (numpy) and distributed pagerank paths must produce the
    identical top-20 (setting the edge ceiling to 0 forces the
    distributed fixpoint on the same graph)."""
    import engine.analytics as A

    drv = [tuple(r) for r in QUERIES["graph_pagerank"](spark, SF_SMOKE).collect()]
    monkeypatch.setattr(A, "GRAPH_DRIVER_EDGES", 0)
    dist = [tuple(r) for r in QUERIES["graph_pagerank"](spark, SF_SMOKE).collect()]
    assert drv == dist


def test_mp4_demux_roundtrip_pure():
    """The frames op is a REAL ISO-BMFF demux: building a clip and
    walking its box tree must recover exactly the sample tables the
    writer laid down, and the stco/stsz-derived extents must tile the
    mdat payload."""
    from engine.multimodal import (
        _MP4_HDR_BASE,
        _make_mp4,
        _mp4_frame_sizes,
        _parse_mp4,
    )

    for d in (2, 5, 44, 998, 12345):
        buf = _make_mp4(d)
        timescale, delta, sizes, base = _parse_mp4(buf)
        assert timescale == 600 and delta == 25
        assert sizes == _mp4_frame_sizes(d)
        assert base == _MP4_HDR_BASE + 4 * len(sizes)
        assert base + sum(sizes) == len(buf)


def test_mp4_demux_reads_tables_not_spec():
    """The parser must trust the BOX TABLES, not the doc_id spec: a
    hand-built mp4 with arbitrary sizes/timing round-trips too."""
    import struct as st

    from engine.multimodal import _make_mp4, _parse_mp4

    buf = bytearray(_make_mp4(7))
    # corrupt the first stsz entry (+9) and re-walk: parser must report
    # the TABLE value, proving it reads stsz rather than recomputing
    # stsz layout from the type tag: verflags(4) sample_size(4)
    # count(4), entries from tag+16
    idx = buf.find(b"stsz")
    (orig,) = st.unpack_from(">I", buf, idx + 16)
    st.pack_into(">I", buf, idx + 16, orig + 9)
    _, _, sizes, _ = _parse_mp4(bytes(buf))
    assert sizes[0] == orig + 9


def test_multimodal_frames_offsets_slice_real_payload(spark):
    """Each emitted (offset, size) must address the actual frame bytes:
    re-slice the generated payload at the reported extent and the
    checksum must match what the op reported."""
    from engine.multimodal import _make_mp4

    rows = QUERIES["multimodal_frames"](spark, SF_SMOKE).collect()
    assert rows
    by_doc: dict[int, bytes] = {}
    for r in rows[:40]:
        buf = by_doc.setdefault(r["doc_id"], _make_mp4(r["doc_id"]))
        sl = buf[r["frame_offset"] : r["frame_offset"] + r["frame_size"]]
        assert len(sl) == r["frame_size"]
        assert sum(sl) % 65536 == r["frame_sum"], r
        assert r["pts_ticks"] == r["frame_no"] * 25 and r["timescale"] == 600


def test_bpe_train_matches_pure_python_reference(spark):
    """Pin text_bpe_train against an independent pure-Python BPE
    trainer over the same corpus (the oracle can't catch a rule both
    SQL engines implement identically wrong — e.g. a mis-weighted
    frequency or a wrong tiebreak would hash-match if mirrored).
    str.replace is the same non-overlapping left-to-right semantics as
    SQL replace, so the reference exercises the identical (disclosed)
    boundary-blind merge application."""
    from collections import Counter

    import duckdb

    import engine.tableq as Q

    texts = [
        r[0]
        for r in duckdb.connect()
        .execute(f"SELECT text FROM '{SF_SMOKE}/documents.parquet'")
        .fetchall()
    ]
    # fixture-cleanliness gate (ADVICE r10): Spark's Java-regex '.'
    # drops \n \r NEL LS PS while DuckDB's RE2 '.' drops only \n — a
    # corpus with \r would diverge ENGINE vs ORACLE, not just this
    # reference. Assert the fixture carries none so the stripping
    # below is provably a no-op and any future regeneration that
    # introduces terminators fails loudly here, not as a hash
    # mismatch downstream.
    terms = "\r\n\x85\u2028\u2029"
    assert not any(c in t for t in texts for c in terms), (
        "documents fixture contains line terminators - the BPE "
        "char-split regex diverges between Spark and DuckDB on these"
    )
    freq: Counter[str] = Counter()
    for t in texts:
        for tok in t.split(" "):
            # match both engines' regexp_extract_all(tok, '(.)'): the
            # regex '.' drops line terminators (\n, \r, and in Spark's
            # Java regex also NEL/LS/PS) — strip the same
            # class here so an embedded newline can't diverge (ADVICE
            # r10).
            tok = "".join(
                c for c in tok if c not in "\r\n\x85\u2028\u2029"
            )
            if tok:
                freq[" ".join(tok)] += 1
    expect = []
    for r in range(1, Q._BPE_TRAIN_ROUNDS + 1):
        pc: Counter[str] = Counter()
        for s, f in freq.items():
            cs = s.split(" ")
            for a, b in zip(cs, cs[1:]):
                pc[a + " " + b] += f
        pair, cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        ns = pair.replace(" ", "")
        expect.append((r, pair, cnt, ns))
        nxt: Counter[str] = Counter()
        for s, f in freq.items():
            nxt[s.replace(pair, ns)] += f
        freq = nxt

    got = [
        (r["rnk"], r["pair"], r["cnt"], r["new_symbol"])
        for r in sorted(
            QUERIES["text_bpe_train"](spark, SF_SMOKE).collect(),
            key=lambda r: r["rnk"],
        )
    ]
    assert got == expect


def test_bpe_train_counts_non_increasing(spark):
    """True-BPE invariant: the selected merge count can never rise
    between rounds — merging the argmax pair only removes occurrences
    of other pairs (its adjacent ones) and any new pair involving the
    merged symbol is bounded by that merge's own count. A rise would
    mean the recount-between-merges loop is reading stale statistics
    (exactly the bug class the simplified text_bpe_apply discloses)."""
    rows = sorted(
        QUERIES["text_bpe_train"](spark, SF_SMOKE).collect(),
        key=lambda r: r["rnk"],
    )
    counts = [r["cnt"] for r in rows]
    assert counts == sorted(counts, reverse=True), counts
    assert all(r["new_symbol"] == r["pair"].replace(" ", "") for r in rows)
