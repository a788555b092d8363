"""Round-14 optimization-round internals: the data-volume-adaptive xmatch
ladder and the k-core convergence early-exit must not change what any query
computes (the oracle pins end-to-end equality; these pin the specific
invariants the optimizations rely on)."""

from fits2db_spark import session
from fits2db_spark.session import free_memo_checkpoints
from tests.conftest import SF_SMOKE


def _rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_xm_singlepass_at_fixture_scale(spark):
    """Below _XM_LADDER_MIN_ROWS objects the ladder is skipped: no rung
    checkpoint is memoized, so the whole match is the one full-radius
    pass (the plan-shape claim in OPTIMIZATION_r14.md)."""
    from fits2db_spark.operators import joins as J

    assert J._catalog_rows(SF_SMOKE) < J._XM_LADDER_MIN_ROWS
    free_memo_checkpoints()
    J.join_xmatch_knn(spark, SF_SMOKE).write.format("noop").mode(
        "overwrite"
    ).save()
    rungs = [k for k in session._MEMO if k[2].startswith("xmatch_")]
    assert rungs == [], "single-pass path must not build rung memos"


def test_xm_ladder_and_singlepass_agree(spark, monkeypatch):
    """The ladder is a pure plan optimization: forcing it on at fixture
    scale must return row-identical results to the single pass."""
    from fits2db_spark.operators import joins as J

    free_memo_checkpoints()
    single = _rows(
        J.join_xmatch_knn(spark, SF_SMOKE), "b_id", "a_id", "rk", "sep_arcsec_floor"
    )
    monkeypatch.setattr(J, "_XM_LADDER_MIN_ROWS", 0)
    free_memo_checkpoints()
    laddered = _rows(
        J.join_xmatch_knn(spark, SF_SMOKE), "b_id", "a_id", "rk", "sep_arcsec_floor"
    )
    free_memo_checkpoints()
    assert single == laddered
    assert len(single) > 0


def test_xm_catalog_rows_unreadable_falls_back_to_ladder(tmp_path):
    """Unknown catalog size must take the scale-safe (ladder) branch."""
    from fits2db_spark.operators import joins as J

    assert J._catalog_rows(str(tmp_path)) >= J._XM_LADDER_MIN_ROWS


def test_kcore_unroll_invariance(spark, monkeypatch):
    """The early-exit's correctness argument: once a peel round removes no
    edge, every further round is the identity — so raising the unroll
    bound must not change the result."""
    from fits2db_spark.operators import advanced as A

    def run():
        free_memo_checkpoints()
        return _rows(A.graph_kcore(spark, SF_SMOKE), "node", "core_degree")

    base = run()
    monkeypatch.setattr(A, "_KCORE_ROUNDS", A._KCORE_ROUNDS + 3)
    more = run()
    free_memo_checkpoints()
    assert base == more


def test_bitparallel_lcs_equals_textbook_dp(spark):
    """text_rouge_l's Allison-Dix fold must agree with the classic DP
    (the oracle's formulation) on arbitrary token streams — LCS length
    is algorithm-independent, this pins the bit fiddling."""
    import random

    from pyspark.sql import functions as F

    def dp(a, b):
        cur = [0] * (len(b) + 1)
        for x in a:
            prev, cur = cur, [0] * (len(b) + 1)
            for j, y in enumerate(b, 1):
                cur[j] = prev[j - 1] + 1 if x == y else max(prev[j], cur[j - 1])
        return cur[len(b)]

    rng = random.Random(14)
    rows = []
    for i in range(80):
        a = [str(rng.randint(0, 5)) for _ in range(rng.randint(1, 30))]
        b = [str(rng.randint(0, 5)) for _ in range(rng.randint(1, 30))]
        rows.append((i, a, b, dp(a, b)))
    df = spark.createDataFrame(rows, "id long, t array<string>, t2 array<string>, want long")

    def bit(k):
        return F.pow(F.lit(2.0), k.cast("double")).cast("long")

    m_bits = bit(F.size("t")) - 1

    def step(V, c):
        M = F.aggregate(
            F.sequence(F.lit(1), F.size("t")),
            F.lit(0).cast("long"),
            lambda acc, i: acc.bitwiseOR(
                F.when(
                    F.element_at(F.col("t"), i) == c, bit(i - 1)
                ).otherwise(F.lit(0).cast("long"))
            ),
        )
        u = V.bitwiseAND(M)
        return ((V + u).bitwiseOR(V.bitwiseAND(F.bitwise_not(M)))).bitwiseAND(m_bits)

    lcs = F.size("t") - F.bit_count(F.aggregate(F.col("t2"), m_bits, step))
    bad = df.select("id", "want", lcs.cast("long").alias("got")).filter(
        F.col("want") != F.col("got")
    )
    assert bad.count() == 0


def test_pair_exact_common_equals_array_intersect(spark):
    """The count-based exact verify (_pair_exact_common) must agree with a
    direct array_intersect over the FULL per-doc shingle arrays for every
    candidate pair — including hot-shingle contributions, exercised here by
    forcing a tiny df cap so the fixture actually produces hot shingles."""
    import pyspark.sql.functions as F

    from fits2db_spark.operators import llm_text as L
    from fits2db_spark.tables import load

    d = load(spark, SF_SMOKE, "documents")
    for cap in (L._SH_DF_CAP, 2):  # real cap (no hot) + forced-hot regime
        orig = L._SH_DF_CAP
        try:
            L._SH_DF_CAP = cap
            sh = L._shingles(d)
            arrs = L._doc_shingle_arrays(d)
            cand = L._jaccard_candidates(sh)
            got = {
                (r.doc_a, r.doc_b): (r.n_common, r.n_a, r.n_b)
                for r in L._pair_exact_common(sh, arrs, cand).collect()
            }
        finally:
            L._SH_DF_CAP = orig
        ref_pairs = cand.join(
            arrs.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")),
            "doc_a",
        ).join(
            arrs.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")),
            "doc_b",
        )
        want = {
            (r.doc_a, r.doc_b): (r.n_common, r.n_a, r.n_b)
            for r in ref_pairs.select(
                "doc_a",
                "doc_b",
                F.size(F.array_intersect("sh_a", "sh_b")).cast("long").alias("n_common"),
                F.size("sh_a").alias("n_a"),
                F.size("sh_b").alias("n_b"),
            ).collect()
        }
        assert got == want and len(got) > 0, f"cap={cap}"


def test_forced_hot_cap_produces_hot_shingles(spark):
    """Guard for the test above: cap=2 must actually create hot shingles at
    fixture scale, or the hot-intersect arm is never exercised."""
    import pyspark.sql.functions as F

    from fits2db_spark.operators import llm_text as L
    from fits2db_spark.tables import load

    sh = L._shingles(load(spark, SF_SMOKE, "documents"))
    n_hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > 2)
        .count()
    )
    assert n_hot > 0


def test_power_iteration_matches_numpy_reference(spark):
    """The r14 GEMM-reduce + single-task-rounds shape must agree with a
    direct single-node numpy power iteration on the same fixture (the
    oracle pins DuckDB equality; this pins the numerics independent of
    any SQL engine)."""
    import numpy as np
    import pandas as pd

    from fits2db_spark.operators import llm_vectors as LV
    from fits2db_spark.registry import all_queries

    got = {
        r.component: (r.loading, r.eigenvalue)
        for r in all_queries()["vec_power_iteration"](spark, SF_SMOKE).collect()
    }
    pdf = pd.read_parquet(f"{SF_SMOKE}/embeddings.parquet")
    x = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    c = (x.T @ x) / len(x) - np.outer(x.mean(axis=0), x.mean(axis=0))
    v = np.ones(x.shape[1])
    nrm = 0.0
    for _ in range(LV._PI_ROUNDS):
        w = c @ v
        nrm = float(np.sqrt(w @ w))
        v = w / nrm
    assert len(got) == x.shape[1]
    for k in range(x.shape[1]):
        assert abs(got[k + 1][0] - v[k]) < 1e-6, k
        assert abs(got[k + 1][1] - nrm) < 1e-6


def test_cov_gram_parts_shared_by_power_iteration_and_pca(spark):
    """r14 session 22: vec_power_iteration and vec_pca_evr consume the same
    covariance, so both now read the memoized ``cov_gram_parts`` reduce —
    one corpus pass per session instead of two. Pins (1) the memo is
    actually shared (same DataFrame object on a second call), and (2)
    vec_pca_evr's eigenvalues equal a LAPACK eig of the covariance formed
    from those same shared rows — i.e. the reduce carries everything the
    consumer needs.  (Power iteration's ||C v|| after its fixed 8 rounds
    is NOT asserted equal to the top eigenvalue: on the tiny fixture the
    iteration has not converged, so that is not an invariant.)"""
    import numpy as np

    from fits2db_spark.operators import llm_vectors as LV
    from fits2db_spark.registry import all_queries

    first = LV.cov_gram_parts(spark, SF_SMOKE)
    assert LV.cov_gram_parts(spark, SF_SMOKE) is first

    d = LV._DIM
    gram = np.zeros((d, d))
    mean_sum = np.zeros(d)
    n = 0
    for r in first.collect():
        if r.i < 0:
            mean_sum[r.j] = r.v
            n = max(n, r.n)
        else:
            gram[r.i, r.j] = r.v
    cov = gram / n - np.outer(mean_sum / n, mean_sum / n)
    expect = np.linalg.eigvalsh(cov)[::-1]
    got = {
        r.component: r.eigenvalue
        for r in all_queries()["vec_pca_evr"](spark, SF_SMOKE).collect()
    }
    for k in range(8):
        # the operator reports ROUND(eigenvalue, 8) — allow that half-ulp
        assert abs(got[k + 1] - expect[k]) < 1e-7, k


def test_mmr_cogroup_greedy_matches_reference(spark):
    """r14 moved MMR's greedy loop from an unrolled Catalyst plan into one
    cogrouped Arrow task. The loop consumes only Spark-computed doubles
    (ROUND-6 rel, raw pair cosine), so a pure-Python greedy over those
    same values must reproduce the operator's output exactly —
    including the floor-to-micro grid and the ascending-cand_id
    tie-break."""
    import math

    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from fits2db_spark.operators import llm_vectors as LV
    from fits2db_spark.registry import all_queries
    from fits2db_spark.tables import load

    got = sorted(
        (r.query_id, r.cand_id, r.rk, r.mmr)
        for r in all_queries()["sim_mmr_rerank"](spark, SF_SMOKE).collect()
    )

    # rebuild the operator's phase-1 shortlist/pair frames with the same
    # Spark expressions, then run the greedy in plain Python
    e = load(spark, SF_SMOKE, "embeddings")
    q = e.filter(F.col("vec_id") < LV._MMR_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    rel = LV._cos(F.col("q_emb"), F.col("embedding"))
    w = Window.partitionBy("query_id").orderBy(F.col("rel_raw").desc(), "cand_id")
    cand = (
        F.broadcast(q)
        .crossJoin(e.select(F.col("vec_id").alias("cand_id"), "embedding"))
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id", "cand_id", F.col("embedding").alias("c_emb"),
            rel.alias("rel_raw"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= LV._MMR_TOPN)
        .select("query_id", "cand_id", "c_emb", F.round("rel_raw", 6).alias("rel"))
    )
    a, b = cand.alias("a"), cand.alias("b")
    pair_rows = (
        a.join(
            b,
            (F.col("a.query_id") == F.col("b.query_id"))
            & (F.col("a.cand_id") != F.col("b.cand_id")),
        )
        .select(
            F.col("a.query_id").alias("query_id"),
            F.col("a.cand_id").alias("c1"),
            F.col("b.cand_id").alias("c2"),
            LV._cos(F.col("a.c_emb"), F.col("b.c_emb")).alias("sim"),
        )
        .collect()
    )
    rels: dict = {}
    for r in cand.select("query_id", "cand_id", "rel").collect():
        rels.setdefault(r.query_id, {})[r.cand_id] = r.rel
    sims = {(r.query_id, r.c1, r.c2): r.sim for r in pair_rows}

    lam, om = LV._MMR_LAMBDA, 1 - LV._MMR_LAMBDA
    want = []
    for qid, rl in rels.items():
        selected: list = []
        remaining = set(rl)
        for t in range(1, LV._MMR_K + 1):
            best_id, best_mm = None, None
            for cid in sorted(remaining):
                mx = max((sims[(qid, cid, s)] for s in selected), default=0.0)
                mm = math.floor((lam * rl[cid] - om * mx) * 1000000)
                if best_mm is None or mm > best_mm:
                    best_id, best_mm = cid, mm
            selected.append(best_id)
            remaining.discard(best_id)
            want.append((qid, best_id, t, float(best_mm) / 1000000))
    assert got == sorted(want) and len(got) == LV._MMR_NQ * LV._MMR_K


def test_bpe_single_task_matches_relational_unroll(spark):
    """r14 moved the BPE merge loop into one task over the word table. A
    relational reference (the r10-r13 per-round aggregate + replace,
    reconstructed here) must produce the identical merge table — pinning
    the order-exact integer sums, the (cnt desc, p1, p2) tie-break and
    the left-to-right non-overlapping replace semantics."""
    import pyspark.sql.functions as F

    from fits2db_spark.operators import llm_text as L
    from fits2db_spark.registry import all_queries
    from fits2db_spark.tables import load

    got = sorted(
        (r.round, r.left_sym, r.right_sym, r.pair_count)
        for r in all_queries()["bpe_train_merges"](spark, SF_SMOKE).collect()
    )

    d = load(spark, SF_SMOKE, "documents")
    words = (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("double").alias("freq"))
    )
    w = words.select(
        F.rtrim(F.regexp_replace("token", "(.)", "<$1> ")).alias("ws"), "freq"
    ).localCheckpoint(eager=True)
    want = []
    for t in range(1, L._BPE_ROUNDS + 1):
        pairs = (
            w.select(F.split("ws", " ").alias("s"), "freq")
            .filter(F.size("s") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(s) - 1),"
                        " i -> struct(s[i-1] AS p1, s[i] AS p2))"
                    )
                ).alias("p"),
                "freq",
            )
            .groupBy("p.p1", "p.p2")
            .agg(F.sum("freq").cast("long").alias("cnt"))
        )
        top = pairs.orderBy(F.col("cnt").desc(), "p1", "p2").limit(1).collect()[0]
        p1, p2, cnt = top["p1"], top["p2"], top["cnt"]
        merged = "<" + p1[1:-1] + p2[1:-1] + ">"
        want.append((t, p1[1:-1], p2[1:-1], cnt))
        w = w.select(
            F.replace(F.col("ws"), F.lit(f"{p1} {p2}"), F.lit(merged)).alias("ws"),
            "freq",
        )
    assert got == sorted(want) and len(got) == L._BPE_ROUNDS


def test_bpe_py_replace_is_greedy_nonoverlapping():
    """'<a> <a> <a>' + merge (a,a) must become '<aa> <a>' (BPE greedy
    semantics) in the single-task trainer, matching Spark's replace()."""
    import pandas as pd

    from fits2db_spark.operators.llm_text import _bpe_merge_rounds

    out = pd.concat(
        list(
            _bpe_merge_rounds(
                iter([pd.DataFrame({"ws": ["<a> <a> <a>"], "freq": [7.0]})])
            )
        )
    )
    first = out.iloc[0]
    # round 1: pair (a, a) seen twice in the 3-symbol word, count 2*7
    assert (first["left_sym"], first["right_sym"], first["pair_count"]) == (
        "a", "a", 14
    )
    # round 2 operates on '<aa> <a>': the only pair is (aa, a)
    second = out.iloc[1]
    assert (second["left_sym"], second["right_sym"], second["pair_count"]) == (
        "aa", "a", 7
    )


def test_spatial_htm_chain_is_split_and_freed(spark, monkeypatch):
    """The HTM projection chain must stay cut into codegen-compilable
    spans: construction materializes exactly 2 interim checkpoints (after
    levels 3 and 6) plus the eager result, and frees exactly the 2
    interims (the full 38-projection span is what Janino failed to
    compile — OPTIMIZATION_r14.md §22)."""
    from fits2db_spark.operators import etl as E

    freed = []
    monkeypatch.setattr(E, "release", lambda df: freed.append(df))
    out = E.spatial_htm(spark, SF_SMOKE)
    assert len(freed) == 2, "chain must checkpoint (and free) 2 interim spans"
    # the returned frame is the eager result checkpoint: a leaf scan, so
    # downstream consumers never re-plan the giant chain
    assert "LogicalRDD" in out._jdf.queryExecution().analyzed().toString()
    assert out.count() > 0


def test_lpa_struct_top1_matches_window_semantics(spark):
    """min(struct(-c, label)) must pick the most frequent label with ties
    to the SMALLEST label — the exact ROW_NUMBER (c DESC, label ASC)
    semantics the oracle uses, including the tie case."""
    from pyspark.sql import functions as F

    votes = spark.createDataFrame(
        # node 1: label 7 wins on count; node 2: tie between 5 and 9 -> 5
        [(1, 7), (1, 7), (1, 3), (2, 9), (2, 5)],
        "node BIGINT, label BIGINT",
    )
    got = _rows(
        votes.groupBy("node", "label")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .groupBy("node")
        .agg(F.min(F.struct((-F.col("c")).alias("nc"), F.col("label"))).alias("m"))
        .select("node", F.col("m.label").alias("label")),
        "node",
        "label",
    )
    assert got == [(1, 7), (2, 5)]


def test_hoisted_norm_cosine_is_bit_identical(spark):
    """dot/(|a|*|b|) with per-row hoisted norms must equal the inline
    _cos EXACTLY (same folds, same division order) — the bit-identity
    claim behind the r14 sim-family hoist, asserted with equality on the
    raw doubles, not a tolerance."""
    import random

    from pyspark.sql import functions as F

    from fits2db_spark.operators.llm_vectors import _cos, _dot, _norm

    rng = random.Random(14)
    rows = [
        ([rng.uniform(-1, 1) for _ in range(64)],
         [rng.uniform(-1, 1) for _ in range(64)])
        for _ in range(200)
    ]
    df = spark.createDataFrame(rows, "a array<double>, b array<double>")
    mismatch = (
        df.select(
            _cos(F.col("a"), F.col("b")).alias("inline"),
            (
                _dot(F.col("a"), F.col("b"))
                / (_norm(F.col("a")) * _norm(F.col("b")))
            ).alias("hoisted"),
        )
        .filter(F.col("inline") != F.col("hoisted"))
        .count()
    )
    assert mismatch == 0


def test_ps_pairs_memo_shared_and_equivalent(spark):
    """Session-22 graph-base sharing: the (part, supplier) pair base every
    bipartite graph key derives its edges from is ONE persisted memo per
    (session, sf) — and the shared distinct-then-project equals the inline
    project-then-distinct it replaced (the bijection argument, concrete)."""
    from pyspark.sql import functions as F

    from fits2db_spark import tables
    from fits2db_spark.operators import advanced as A

    free_memo_checkpoints()
    base = A._ps_pairs(spark, SF_SMOKE)
    assert A._ps_pairs(spark, SF_SMOKE) is base, "memo must return one frame"
    sym = A._lpa_sym_edges(spark, SF_SMOKE)
    assert A._lpa_sym_edges(spark, SF_SMOKE) is sym

    li = tables.load(spark, SF_SMOKE, "lineitem")
    inline = sorted(
        tuple(r)
        for r in li.select(
            F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
        )
        .distinct()
        .collect()
    )
    assert len(inline) > 0
    assert inline == sorted(tuple(r) for r in base.collect())

    # the sampled edge list is exactly symmetric (each kept pair both ways)
    e = sorted(tuple(r) for r in sym.collect())
    assert len(e) > 0 and len(e) % 2 == 0
    assert e == sorted((d, s) for s, d in e)

    # clear_cache also drops the shared graph base
    tables.clear_cache()
    assert not session._MEMO


def test_co_supply_counts_memo_shared_by_threshold_builds(spark):
    """Session-23: the co-supply pair aggregate (the dominant stage of the
    triangles/kcore/clustering-coeff family) is ONE shared memo — both
    thresholded edge-list builds must read the same persisted frame."""
    from fits2db_spark.operators import advanced as A

    free_memo_checkpoints()
    sh = A._co_supply_counts(spark, SF_SMOKE)
    assert A._co_supply_counts(spark, SF_SMOKE) is sh, "memo must return one frame"
    A.graph_triangles(spark, SF_SMOKE).collect()
    cosupply = [k for k in session._MEMO if k[2] == "cosupply"]
    assert len(cosupply) == 1
    assert session._MEMO[cosupply[0]] is sh
    A.graph_kcore(spark, SF_SMOKE).collect()
    assert session._MEMO[cosupply[0]] is sh, "kcore build must reuse it"
    free_memo_checkpoints()
