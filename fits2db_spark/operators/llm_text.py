"""LLM training-data pipeline — text operators (SURVEY.md §2.N).

Deduplication, tokenization, TF-IDF, n-grams, quality scoring, language-ID
heuristics and document fingerprinting over the ``documents`` table. All
pure-DataFrame (JVM expressions, no Python on the data path) so they hold at
100 TB: the heavy ops shuffle once on (term) or (doc pair) keys, and the
near-dup candidate generation is LSH-banded so candidate volume scales with
true-duplicate density, not O(n^2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..session import memo, release
from ..tables import load


def _norm_text(col):
    """lower + collapse whitespace + trim — the canonical pre-dedup form."""
    return F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))


@register(
    "dedup_exact_text",
    oracle="""
    SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies, md5(norm) AS fp
    FROM (SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm
          FROM documents)
    GROUP BY norm
    """,
)
def dedup_exact_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup after normalization: hash-groupBy on the normalized text,
    keep the lowest doc_id. One shuffle on the text hash; at 100 TB group on
    ``sha2(norm)`` (fixed 64-byte key) instead of the full text to keep
    shuffle rows narrow — fp column shows the pattern."""
    d = load(spark, sf_dir, "documents")
    norm = _norm_text(F.col("text")).alias("norm")
    return (
        d.select("doc_id", norm)
        .groupBy("norm")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("doc_id", "n_copies", F.md5("norm").alias("fp"))
    )


@register(
    "text_tokenize_counts",
    oracle="""
    SELECT term, COUNT(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
    GROUP BY term
    ORDER BY n DESC, term
    LIMIT 50
    """,
)
def text_tokenize_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokenize -> top terms (word count). Map-side partial
    aggregation makes the shuffle proportional to vocabulary, not corpus."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "term")
        .limit(50)
    )


@register(
    "text_token_count_bpeish",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER)
             AS bpeish_tokens,
           CAST(CEIL(length(text) / 4.0) AS INTEGER) AS byte_est_tokens
    FROM documents WHERE doc_id < 400
    """,
)
def text_token_count_bpeish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace, a BPE-ish regex segmentation
    (letter runs / digit runs / other), and the bytes/4 estimate."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(r"[a-z]+|[0-9]+|[^a-z0-9 ]"), 0)).alias(
            "bpeish_tokens"
        ),
        F.ceil(F.length("text") / 4.0).cast("int").alias("byte_est_tokens"),
    )


@register(
    "text_tfidf",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents WHERE doc_id < 500
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
    df AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM toks GROUP BY term),
    n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n FROM toks)
    SELECT tf.doc_id, tf.term, tf.tf,
           ROUND(tf.tf * LN(n.n / df.df), 6) AS tfidf
    FROM tf JOIN df USING (term) CROSS JOIN n
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF by pure DataFrame math: tf join df (broadcast — vocabulary is
    small) times ln(N/df). At corpus scale the df table is the broadcast side
    and the tf table never reshuffles after its groupBy.

    N (corpus size) is a broadcast crossJoin of a one-row countDistinct
    aggregate, NOT a driver-side ``.count()``: constructing a registered
    query must launch no Spark job (round-1 advisory), and an eager count is
    a full extra pass over the corpus at scale. Everything stays one lazy
    plan; Catalyst dedups the shared ``toks`` scan subtree."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = toks.agg(F.countDistinct("doc_id").cast("double").alias("n_docs"))
    return (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6).alias("tfidf"),
        )
    )


@register(
    "text_ngram",
    oracle="""
    SELECT doc_id,
           array_to_string(list_transform(generate_series(1, len(t) - 1),
                          i -> concat(t[i], ' ', t[i+1])), '|') AS bigrams,
           array_to_string(list_transform(generate_series(1, len(t) - 2),
                          i -> concat(t[i], ' ', t[i+1], ' ', t[i+2])), '|') AS trigrams
    FROM (SELECT doc_id, string_split(text, ' ') AS t
          FROM documents WHERE doc_id < 200)
    WHERE len(t) >= 3
    """,
)
def text_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word n-gram shingling via JVM higher-order functions (no UDF).
    N-gram lists are '|'-joined to scalar strings for the driver
    canonicalizer (cannot hash array cells); order is positional, so the
    join is deterministic."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    t = F.split("text", " ")
    base = d.select("doc_id", t.alias("t")).filter(F.size("t") >= 3)
    tok = F.col("t")

    def grams(width):
        return F.transform(
            F.sequence(F.lit(0), F.size(tok) - width),
            lambda i: F.concat_ws(
                " ", *[F.element_at(tok, (i + k + 1).cast("int")) for k in range(width)]
            ),
        )

    return base.select(
        "doc_id",
        F.concat_ws("|", grams(2)).alias("bigrams"),
        F.concat_ws("|", grams(3)).alias("trigrams"),
    )


@register(
    "text_lang_stats",
    oracle="""
    SELECT lang, source, COUNT(*) AS n_docs,
           ROUND(AVG(n_chars), 4) AS avg_chars,
           ROUND(quantile_cont(CAST(n_chars AS DOUBLE), 0.5), 2) AS p50_chars,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM documents
    GROUP BY lang, source
    """,
)
def text_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.round(F.expr("percentile(CAST(n_chars AS DOUBLE), 0.5)"), 2).alias("p50_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@register(
    "text_quality_score",
    oracle="""
    WITH t AS (
      SELECT doc_id, text, string_split(text, ' ') AS toks, length(text) AS nc
      FROM documents WHERE doc_id < 400
    )
    SELECT doc_id,
           CAST(len(toks) AS INTEGER) AS n_tokens,
           ROUND(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
                 / len(toks), 6) AS avg_tok_len,
           ROUND(CAST(len(list_filter(toks, x -> x IN ('the', 'a'))) AS DOUBLE)
                 / len(toks), 6) AS stopword_ratio,
           ROUND(CAST(len(list_filter(toks, x -> length(x) <= 2)) AS DOUBLE)
                 / len(toks), 6) AS short_tok_ratio,
           CAST(nc BETWEEN 100 AND 500
                AND len(toks) >= 20 AS BOOLEAN) AS passes_gate
    FROM t
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring (length / stopword / short-token ratios +
    a pass/fail gate) — the C4/Gopher-style filter shape, as expressions."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    toks = F.split("text", " ")
    base = d.select("doc_id", F.length("text").alias("nc"), toks.alias("toks"))
    n = F.size("toks").cast("double")
    return base.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.round(
            F.aggregate(
                F.transform(F.col("toks"), lambda x: F.length(x).cast("long")),
                F.lit(0).cast("long"),
                lambda a, x: a + x,
            ).cast("double")
            / n,
            6,
        ).alias("avg_tok_len"),
        F.round(
            F.size(F.filter(F.col("toks"), lambda x: x.isin("the", "a"))).cast("double") / n, 6
        ).alias("stopword_ratio"),
        F.round(
            F.size(F.filter(F.col("toks"), lambda x: F.length(x) <= 2)).cast("double") / n, 6
        ).alias("short_tok_ratio"),
        (F.col("nc").between(100, 500) & (F.size("toks") >= 20)).alias("passes_gate"),
    )


@register(
    "text_langid",
    oracle="""
    WITH s AS (
      SELECT doc_id, lang,
             len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a'))) AS s_en,
             len(list_filter(string_split(text, ' '), x -> x IN ('table', 'batch'))) AS s_de,
             len(list_filter(string_split(text, ' '), x -> x IN ('data', 'value'))) AS s_es,
             len(list_filter(string_split(text, ' '), x -> x IN ('key', 'hash'))) AS s_fr,
             len(list_filter(string_split(text, ' '), x -> x IN ('row', 'column'))) AS s_zh
      FROM documents WHERE doc_id < 300
    )
    SELECT doc_id, lang,
           CASE
             WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
             WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
             WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
             WHEN s_fr >= s_zh THEN 'fr'
             ELSE 'zh'
           END AS predicted
    FROM s
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: marker-token frequency argmax (first-match tie
    break). The marker sets are synthetic (fixture text shares one
    vocabulary) but the operator shape — per-language stopword scoring +
    argmax — is the standard n-gram/stopword LID structure."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    toks = F.split("text", " ")
    markers = {
        "en": ("the", "a"),
        "de": ("table", "batch"),
        "es": ("data", "value"),
        "fr": ("key", "hash"),
        "zh": ("row", "column"),
    }
    def marker_count(m):
        # closure factory: a default-arg lambda would be read by PySpark as a
        # binary (element, index) lambda and bind m to the index Column
        return F.size(F.filter(toks, lambda x: x.isin(*m)))

    scored = d.select(
        "doc_id",
        "lang",
        *[marker_count(m).alias(f"s_{k}") for k, m in markers.items()],
    )
    order = ["en", "de", "es", "fr", "zh"]
    pred = F.lit("zh")
    for k in reversed(order[:-1]):
        cond = None
        for other in order[order.index(k) + 1 :]:
            c = F.col(f"s_{k}") >= F.col(f"s_{other}")
            cond = c if cond is None else (cond & c)
        pred = F.when(cond, F.lit(k)).otherwise(pred)
    return scored.select("doc_id", "lang", pred.alias("predicted"))


@register(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(text, ' '),
                              x -> CAST(ascii(x) * 100 + length(x) AS BIGINT))),
             (a, b) -> (a * 131 + b) % 1000000007) AS fp
    FROM documents WHERE doc_id < 300
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling polynomial hash over the token stream (Rabin-Karp shape):
    fp = fold(tokens, 0, (acc, t) -> (acc*131 + code(t)) mod p). A position-
    sensitive fingerprint, unlike the bag-of-words md5 in dedup_exact_text."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    codes = F.transform(
        F.split("text", " "),
        lambda x: (F.ascii(x) * 100 + F.length(x)).cast("long"),
    )
    return d.select(
        "doc_id",
        F.aggregate(
            codes, F.lit(0).cast("long"), lambda a, b: (a * 131 + b) % 1000000007
        ).alias("fp"),
    )


# ---------------------------------------------------------------------------
# Near-duplicate detection suite (SURVEY.md §2.N dedup_*)
# Cross-engine hash primitive: first 15 hex chars of md5 -> int64, identical
# in Spark (conv(_,16,10)) and DuckDB ('0x'||_::BIGINT) — verified.
# ---------------------------------------------------------------------------

_N_PERM = 16          # minhash permutations
_N_BANDS = 4          # LSH bands (4 rows per band)
_JACCARD_T = 0.5      # verify threshold
# Hot-key caps — the quadratic-blowup guards for the dedup self-joins.
# A shingle shared by k docs contributes k(k-1)/2 candidate pairs; a
# stop-phrase ("terms of service apply") at corpus scale makes that
# quadratic. Shingles above the document-frequency cap are excluded from
# CANDIDATE GENERATION only (verification still uses full shingle sets, so
# reported Jaccard stays exact); LSH buckets above the bucket cap are
# degenerate (boilerplate collapses many docs into one band hash) and are
# dropped the same way. Both caps are mirrored in the DuckDB oracles.
_SH_DF_CAP = 128      # max docs per shingle in the inverted index
_LSH_BUCKET_CAP = 64  # max docs per LSH band bucket


def _h64(col):
    """md5-based 60-bit integer hash, reproducible in DuckDB."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _doc_shingle_arrays(d: DataFrame) -> DataFrame:
    """(doc_id, shingles): per-doc ARRAY of distinct hashed word 3-shingles.

    Shingles are md5-derived int64s, not strings: downstream joins shuffle
    8-byte keys instead of ~25-byte text (collision odds over a corpus are
    ~n^2/2^61 — negligible, and identical in the DuckDB oracle, which hashes
    the same way). Kept un-exploded: the minhash signature AND the exact
    verify both work on the arrays directly (array_min / array_intersect),
    so the expensive md5 pass runs once and nothing re-shuffles it.

    The token array is staged as a REAL column before the 3-gram
    transform (r14 optimization round): a split() subtree captured
    inside the lambda is re-evaluated by the HOF interpreter for every
    element_at of every shingle — re-splitting the full document text
    ~3 x n_shingles times per doc (the weighted-minhash fix, applied at
    the shared root of the whole shingle-cache family)."""
    t = F.col("_tk")
    tri = F.transform(
        F.sequence(F.lit(0), F.size(t) - 3),
        lambda i: F.concat_ws(
            " ",
            F.element_at(t, (i + 1).cast("int")),
            F.element_at(t, (i + 2).cast("int")),
            F.element_at(t, (i + 3).cast("int")),
        ),
    )
    hashed = F.array_distinct(F.transform(tri, _h64))
    return (
        d.filter(F.size(F.split("text", " ")) >= 3)
        .select("doc_id", F.split("text", " ").alias("_tk"))
        .select("doc_id", hashed.alias("shingles"))
    )


def _shingles(d: DataFrame) -> DataFrame:
    """(doc_id, shingle): exploded form of :func:`_doc_shingle_arrays` —
    the inverted-index shape for the exact-Jaccard candidate join."""
    return _doc_shingle_arrays(d).select("doc_id", F.explode("shingles").alias("shingle"))


def _bands(arrs: DataFrame) -> DataFrame:
    """LSH band table: 4 rows per doc, read three times (bucket counts +
    both self-join sides), so callers memoize it and the 16-permutation
    signature arithmetic runs once."""
    sig = _minhash_sig(arrs)
    frames = [
        sig.select(
            "doc_id",
            F.lit(b).alias("band"),
            F.md5(F.concat_ws(",", *cols)).alias("bkey"),
        )
        for b, cols in enumerate(_band_exprs())
    ]
    out = frames[0]
    for bf in frames[1:]:
        out = out.unionByName(bf)
    # the 4-way union would inherit 4x the arrays' partitions (128 tiny
    # partitions at bench scale = pure task-launch overhead in every
    # downstream stage); the band table is small, so keep few partitions
    return out.coalesce(8)


_SHINGLES_SQL = """
      SELECT doc_id, unnest(list_distinct(
               list_transform(generate_series(1, len(t) - 2),
                 i -> CAST(concat('0x', substr(md5(
                        concat(t[i], ' ', t[i+1], ' ', t[i+2])), 1, 15)) AS BIGINT))))
             AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
      WHERE len(t) >= 3
"""


def _jaccard_candidates(sh: DataFrame) -> DataFrame:
    """(doc_a, doc_b, n_cc) candidate pairs from the inverted shingle index,
    document-frequency capped: shingles in more than ``_SH_DF_CAP`` docs are
    excluded before the self-join (the quadratic-blowup guard — a stop-phrase
    shared by k docs would emit k(k-1)/2 pairs). The hot-shingle list is tiny
    by construction, so the exclusion is a broadcast anti-join.

    ``n_cc`` counts the pair's shared CAPPED shingles — the same groupBy
    exchange the old DISTINCT paid (plus a map-side-combined long), and it
    lets the exact verify run on three ints per pair instead of intersecting
    two full shingle arrays (r14: the verify join was the dominant cold cost
    of every consumer; see :func:`_pair_exact_common`)."""
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > _SH_DF_CAP)
        .select("shingle")
    )
    shc = sh.join(F.broadcast(hot), "shingle", "left_anti")
    a, b = shc.alias("a"), shc.alias("b")
    return (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_cc"))
    )


def _pair_exact_common(sh: DataFrame, arrs: DataFrame, cand: DataFrame) -> DataFrame:
    """(doc_a, doc_b, n_common, n_a, n_b) with ``n_common`` EXACT over the
    FULL shingle sets: the capped-index shared count the candidate aggregate
    already carries, plus the intersection of the pair's HOT shingles
    (df > ``_SH_DF_CAP``, excluded from the index). A doc's shingles are
    partitioned by the global df cap into capped + hot, so
    n_cc + |hot_a n hot_b| == |shingles_a n shingles_b| exactly.

    Replaces the full-array ``array_intersect`` verify join (r14): the
    per-pair join payload drops from two ~95-element arrays to three ints,
    and the intersect runs only over hot arrays — EMPTY at fixture scale,
    short by construction at any scale (a corpus has few stop-phrases, and
    a doc contains few of them). The joins stay broadcast-sized for the
    same reason the old arrs joins were; at 100 TB they degrade to shuffle
    joins of narrow ints instead of full arrays."""
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > _SH_DF_CAP)
        .select("shingle")
    )
    doc_hot = (
        sh.join(F.broadcast(hot), "shingle")
        .groupBy("doc_id")
        .agg(F.collect_list("shingle").alias("hot_sh"))
    )
    side = arrs.select("doc_id", F.size("shingles").alias("n_sh")).join(
        doc_hot, "doc_id", "left"
    )
    n_hot = F.when(
        F.col("hot_a").isNotNull() & F.col("hot_b").isNotNull(),
        F.size(F.array_intersect("hot_a", "hot_b")),
    ).otherwise(F.lit(0))
    return (
        cand.join(
            side.select(
                F.col("doc_id").alias("doc_a"),
                F.col("n_sh").alias("n_a"),
                F.col("hot_sh").alias("hot_a"),
            ),
            "doc_a",
        )
        .join(
            side.select(
                F.col("doc_id").alias("doc_b"),
                F.col("n_sh").alias("n_b"),
                F.col("hot_sh").alias("hot_b"),
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            (F.col("n_cc") + n_hot).alias("n_common"),
            "n_a",
            "n_b",
        )
    )


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH sh AS ({_SHINGLES_SQL}),
    hot AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) > {_SH_DF_CAP}),
    shc AS (SELECT sh.* FROM sh ANTI JOIN hot USING (shingle)),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND a.shingle = b.shingle
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT c.doc_a, c.doc_b, c.n_common,
           ROUND(CAST(c.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - c.n_common), 6)
             AS jaccard
    FROM common c
    JOIN sizes sa ON sa.doc_id = c.doc_a
    JOIN sizes sb ON sb.doc_id = c.doc_b
    WHERE CAST(c.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - c.n_common) >= {_JACCARD_T}
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via shingle inverted index:
    candidate pairs from a document-frequency-capped self-join
    (:func:`_jaccard_candidates`), then exact verification on the FULL
    shingle sets — so the cap bounds join cost without biasing the reported
    Jaccard. Pairs whose only overlap is hot (stop-phrase) shingles are
    below any useful threshold anyway. The oracle mirrors the cap."""
    d = load(spark, sf_dir, "documents")
    sh = memo(spark, sf_dir, "shingles", lambda: _shingles(d).persist())
    cand = memo(spark, sf_dir, "jacc_cand", lambda: _jaccard_candidates(sh).persist())
    # exact verify from the candidate aggregate's shared-capped count plus
    # the hot-shingle intersect (r14; see _pair_exact_common — replaces the
    # full-array array_intersect join, which was the dominant cold cost)
    arrs = memo(spark, sf_dir, "doc_arrays", lambda: _doc_shingle_arrays(d).persist())
    stats = _pair_exact_common(sh, arrs, cand)
    n_common = F.col("n_common")
    jac = n_common.cast("double") / (
        F.col("n_a") + F.col("n_b") - n_common
    )
    return (
        stats.filter(jac >= _JACCARD_T)
        .select(
            "doc_a",
            "doc_b",
            n_common.cast("long").alias("n_common"),
            F.round(jac, 6).alias("jaccard"),
        )
    )


# Affine minhash permutations over ONE md5 base hash per shingle:
# h31 = md5int % (2^31-1); perm_j = (a_j * h31 + b_j) % (2^31-1).
# a_j * h31 < 2^62 — no int64 overflow; identical arithmetic in DuckDB.
# (One md5 per shingle instead of 16: ~6x faster signature build at sf0.1.)
_MH_P = 2147483647  # 2^31 - 1 (Mersenne prime)
_MH_AB = [(1000003 + 4591 * j, 998244353 % _MH_P + 7 * j) for j in range(_N_PERM)]


def _minhash_sig(arrs: DataFrame) -> DataFrame:
    """(doc_id, shingles) arrays -> (doc_id, m0..m15) minhash signature,
    shuffle-free: each permutation is an ``array_min`` over an affine
    transform of the base hashes (the exploded variant costs a 16-column
    groupBy exchange). Values are identical to the min-over-group form the
    oracle uses."""
    ints = F.transform(F.col("shingles"), lambda h: h % _MH_P)

    def perm_min(a: int, b: int):
        # closure factory (a default-arg lambda reads as an (elem, idx) pair)
        return F.array_min(F.transform(ints, lambda h: (F.lit(a) * h + F.lit(b)) % _MH_P))

    return arrs.select(
        "doc_id", *[perm_min(a, b).alias(f"m{j}") for j, (a, b) in enumerate(_MH_AB)]
    )


def _minhash_sig_sql() -> str:
    hcols = ", ".join(
        f"(CAST({a} AS BIGINT) * h31 + {b}) % {_MH_P} AS h{j}"
        for j, (a, b) in enumerate(_MH_AB)
    )
    mins = ", ".join(f"MIN(h{j}) AS m{j}" for j in range(_N_PERM))
    return f"""
    based AS (SELECT doc_id, shingle % {_MH_P} AS h31 FROM sh),
    hashed AS (SELECT doc_id, {hcols} FROM based),
    sig AS (SELECT doc_id, {mins} FROM hashed GROUP BY doc_id)
    """


def _band_exprs():
    rows_per_band = _N_PERM // _N_BANDS
    return [
        [f"m{b * rows_per_band + k}" for k in range(rows_per_band)]
        for b in range(_N_BANDS)
    ]


def _lsh_candidates(bands: DataFrame) -> DataFrame:
    """(doc_a, doc_b) candidate pairs from LSH band buckets, bucket-size
    capped: buckets holding more than ``_LSH_BUCKET_CAP`` docs are degenerate
    (boilerplate collapsing many docs onto one band hash would emit
    k(k-1)/2 pairs) and are dropped via a broadcast anti-join before the
    bucket self-join."""
    hotb = (
        bands.groupBy("band", "bkey")
        .agg(F.count(F.lit(1)).alias("bn"))
        .filter(F.col("bn") > _LSH_BUCKET_CAP)
        .select("band", "bkey")
    )
    bands_c = bands.join(F.broadcast(hotb), ["band", "bkey"], "left_anti")
    a, b = bands_c.alias("a"), bands_c.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


@register(
    "dedup_near_minhash",
    oracle=f"""
    WITH sh AS ({_SHINGLES_SQL}),
    {_minhash_sig_sql()},
    bands AS (
      {" UNION ALL ".join(
          f"SELECT doc_id, {b} AS band, md5(concat_ws(',', {', '.join(cols)})) AS bkey FROM sig"
          for b, cols in enumerate(_band_exprs())
      )}
    ),
    hotb AS (SELECT band, bkey FROM bands
             GROUP BY band, bkey HAVING COUNT(*) > {_LSH_BUCKET_CAP}),
    bands_c AS (SELECT bands.* FROM bands ANTI JOIN hotb USING (band, bkey)),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands_c a JOIN bands_c b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND a.shingle = b.shingle
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT c.doc_a, c.doc_b,
           ROUND(CAST(c.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - c.n_common), 6)
             AS jaccard
    FROM common c
    JOIN sizes sa ON sa.doc_id = c.doc_a
    JOIN sizes sb ON sb.doc_id = c.doc_b
    WHERE CAST(c.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - c.n_common) >= {_JACCARD_T}
    """,
)
def dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup: shingle -> 16-permutation minhash signature ->
    4 LSH bands -> band-bucket join for candidates -> exact-Jaccard verify.

    The oracle mirrors the SAME algorithm (same md5-salted permutations), so
    the comparison is exact; LSH recall vs ground truth is asserted in unit
    tests against dedup_ngram_jaccard. At 100 TB: candidate volume scales
    with duplicate density; degenerate buckets are capped before the bucket
    self-join (:func:`_lsh_candidates`).

    Verify stage works on the cached per-doc shingle ARRAYS: two doc-id
    equi-joins of the candidate pairs against a one-row-per-doc table, then
    ``array_intersect`` computes the overlap inside the row — no exploded
    (doc, shingle) shuffle, no groupBy, no separate sizes join (the round-1
    bench's dominant re-shuffle)."""
    d = load(spark, sf_dir, "documents")
    arrs = memo(spark, sf_dir, "doc_arrays", lambda: _doc_shingle_arrays(d).persist())
    bands = memo(spark, sf_dir, "bands", lambda: _bands(arrs).persist())
    cand = _lsh_candidates(bands)
    pairs = cand.join(
        arrs.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")), "doc_a"
    ).join(
        arrs.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")), "doc_b"
    )
    n_common = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = n_common.cast("double") / (F.size("sh_a") + F.size("sh_b") - n_common)
    return (
        pairs.filter(jac >= _JACCARD_T)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


@register(
    "dedup_simhash",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
      FROM documents
    ),
    th AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(token), 1, 15)) AS BIGINT) AS h
      FROM tok
    ),
    bits AS (
      SELECT doc_id, b.bit,
             SUM(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS w
      FROM th CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS bit) b
      GROUP BY doc_id, b.bit
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN w > 0 THEN 1 << bit ELSE 0 END) AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (16-bit, md5-based): per-token hash votes +1/-1 on each bit
    position; fingerprint = majority bits. Near-dups have small Hamming
    distance — at scale, bucket on fingerprint bytes for candidate pairs."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("token")
    )
    th = tok.select("doc_id", _h64(F.col("token")).alias("h"))
    bits = th.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(15))).alias("bit"),
        F.col("h"),
    ).select(
        "doc_id",
        "bit",
        F.when(F.expr("(h >> bit) & 1") == 1, F.lit(1)).otherwise(F.lit(-1)).alias("vote"),
    )
    w = bits.groupBy("doc_id", "bit").agg(F.sum("vote").alias("w"))
    bit_value = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT))")
    return w.groupBy("doc_id").agg(
        F.sum(F.when(F.col("w") > 0, bit_value).otherwise(F.lit(0)))
        .cast("long")
        .alias("simhash")
    )


# The ENGINE is iterative (label propagation / star-contraction), but the
# RESULT — connected components of the near-dup pair graph — is fully
# SQL-reproducible: DuckDB computes the same pair graph (the jaccard oracle)
# and closes it with a recursive CTE, so both CC variants get the full
# row-count + schema + value-hash check instead of a rows-only pass.
def _cc_oracle_sql() -> str:
    return f"""
    -- MATERIALIZED: sh is referenced 5x (hot/shc/sizes/common x2) and the
    -- md5-shingle explode would otherwise re-inline into each (r8: 43s ->
    -- ~6s at sf0.1); same for the capped index and the candidate pairs
    WITH RECURSIVE sh AS MATERIALIZED ({_SHINGLES_SQL}),
    hot AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) > {_SH_DF_CAP}),
    shc AS MATERIALIZED (SELECT sh.* FROM sh ANTI JOIN hot USING (shingle)),
    cand AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    ),
    sizes AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS MATERIALIZED (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND a.shingle = b.shingle
      GROUP BY c.doc_a, c.doc_b
    ),
    jp AS MATERIALIZED (
      SELECT c.doc_a, c.doc_b
      FROM common c
      JOIN sizes sa ON sa.doc_id = c.doc_a
      JOIN sizes sb ON sb.doc_id = c.doc_b
      WHERE CAST(c.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - c.n_common)
            >= {_JACCARD_T}
    ),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM jp
      UNION ALL SELECT doc_b, doc_a FROM jp
    ),
    nodes AS (SELECT DISTINCT u AS node FROM edges),
    reach(node, r) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.u, rc.r FROM edges e JOIN reach rc ON rc.node = e.v
    ),
    labels AS (SELECT node, MIN(r) AS comp FROM reach GROUP BY node)
    SELECT comp, CAST(COUNT(*) AS BIGINT) AS cluster_size,
           MIN(node) AS keep_doc
    FROM labels GROUP BY comp HAVING COUNT(*) > 1
    """


# Edge-count bound for the driver union-find fast path: ~the same order as
# Spark's own broadcast-join threshold (a few million two-string rows are
# tens of MB). Blocked ER / near-dup pair graphs are orders of magnitude
# smaller than the corpus (24 edges at sf0.1 here; the blocking caps bound
# them at any scale), so the common case never needs a distributed fixpoint.
_LP_DRIVER_EDGE_CAP = 2_000_000
# Below this many (endpoint -> component) entries the label map ships as an
# inline create_map literal (pure Catalyst, no join); above it, a broadcast
# join on a createDataFrame frame (literal plans have per-entry analyzer
# cost, so huge maps belong in a broadcast relation).
_LP_MAP_LITERAL_CAP = 10_000


def _label_propagate(
    pairs: DataFrame, nodes: DataFrame, max_rounds: int = 20, unroll: int = 5
):
    """Min-label connected components over an undirected pair graph.

    ``pairs``: (doc_a, doc_b) edges; ``nodes``: one ``doc_id`` per vertex.
    Returns ``(updated, labels)`` where ``labels`` is (doc_id, comp) at the
    fixpoint and ``updated`` additionally carries the final ``new_comp``
    column (the memo shape).

    r7 hybrid replan (the 73x er_golden_record bench gap was ALL per-round
    driver latency on a 24-edge graph, not data volume): the edge list is
    checkpointed and counted once; when it is broadcast-scale
    (<= _LP_DRIVER_EDGE_CAP rows) the components are solved with a driver
    union-find (path-halving, O(E a(E)) — microseconds for anything that
    fits the cap) and the (endpoint -> min-member) map is BROADCAST-joined
    back onto the nodes, so the per-node work stays distributed and the
    driver holds only the edge endpoints — the exact bounded-build-side
    contract of a broadcast hash join. Above the cap, the verified
    iterative min-label loop below runs, with rounds statically unrolled
    in LAZY blocks of ``unroll`` (one action per block + one verification
    round whose changed-count must be 0). Either path returns ONLY a
    verified-or-exact fixpoint.

    Iterative-path lineage is CUT at block boundaries (eager
    localCheckpoint; reliable checkpoint() on a real cluster): the
    per-round join references the previous labels, so uncut plans nest
    geometrically — ``unroll`` bounds that nesting. Superseded checkpoint
    blocks are reclaimed by the ContextCleaner once their Python
    references drop.

    Raises RuntimeError if the iterative path reaches no fixpoint within
    ``max_rounds`` total propagation rounds: silently-wrong clusters are
    worse than a loud failure (mirrors dedup_components_bigstar). Callers
    must never memoize a non-fixpoint (this function raises before
    returning one).
    """
    # One bounded probe action decides the path: collect at most cap+1 pair
    # rows straight off the lazy pair plan (undirected union-find needs no
    # symmetrization). cap+1 makes overflow detectable without a count.
    probe = pairs.limit(_LP_DRIVER_EDGE_CAP + 1).collect()
    if len(probe) <= _LP_DRIVER_EDGE_CAP:
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:  # path compression
                parent[x], x = root, parent[x]
            return root

        for row in probe:
            ra, rb = find(row[0]), find(row[1])
            if ra != rb:
                # larger root points at smaller -> every root is its
                # component's MINIMUM member (min() on str == SQL MIN,
                # lexicographic), matching the oracle's MIN(r) labels
                parent[max(ra, rb)] = min(ra, rb)
        # every non-root endpoint has a parent entry; roots fall through to
        # the coalesce(doc_id) below
        mapping = [(x, find(x)) for x in parent]
        id_type = nodes.schema["doc_id"].dataType
        if len(mapping) <= _LP_MAP_LITERAL_CAP:
            # inline literal MAP lookup: createDataFrame costs ~0.4s of
            # driver->JVM round trip even for tiny frames (measured r7);
            # a create_map literal stays in Catalyst and the whole label
            # step becomes a narrow projection, no join at all
            if mapping:
                m = F.create_map(
                    *[
                        F.lit(v).cast(id_type)
                        for pair in mapping
                        for v in pair
                    ]
                )
                comp = F.coalesce(
                    F.element_at(m, F.col("doc_id")), F.col("doc_id")
                )
            else:
                comp = F.col("doc_id")
            labels = nodes.select("doc_id", comp.alias("comp"))
        else:
            from pyspark.sql.types import StructField, StructType

            map_df = nodes.sparkSession.createDataFrame(
                mapping,
                StructType(
                    [
                        StructField("doc_id", id_type),
                        StructField("edge_comp", id_type),
                    ]
                ),
            )
            labels = nodes.join(F.broadcast(map_df), "doc_id", "left").select(
                "doc_id",
                F.coalesce(F.col("edge_comp"), F.col("doc_id")).alias("comp"),
            )
        updated = labels.select(
            "doc_id", F.col("comp").alias("new_comp"), F.col("comp")
        )
        return updated, labels

    # big-graph path: verified iterative min-label propagation
    edges = pairs.unionByName(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).localCheckpoint(eager=True)

    def one_round(lbl: DataFrame) -> DataFrame:
        neighbor_min = (
            edges.join(lbl, edges.doc_b == lbl.doc_id)
            .groupBy(F.col("doc_a").alias("doc_id"))
            .agg(F.min("comp").alias("nb_comp"))
        )
        return lbl.join(neighbor_min, "doc_id", "left").select(
            "doc_id",
            F.least(
                F.col("comp"), F.coalesce(F.col("nb_comp"), F.col("comp"))
            ).alias("comp"),
        )

    labels = nodes.select("doc_id", F.col("doc_id").alias("comp"))
    rounds_done = 0
    while rounds_done < max_rounds:
        for _ in range(min(unroll, max(0, max_rounds - rounds_done - 1))):
            labels = one_round(labels)
            rounds_done += 1
        labels = labels.localCheckpoint(eager=True)
        # verification round: one more propagation; 0 changes == fixpoint
        # (spelled without a labels-to-derived self-join, which would trip
        # the AMBIGUOUS_SELF_JOIN analyzer)
        neighbor_min = (
            edges.join(labels, edges.doc_b == labels.doc_id)
            .groupBy(F.col("doc_a").alias("doc_id"))
            .agg(F.min("comp").alias("nb_comp"))
        )
        updated = (
            labels.join(neighbor_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("comp"), F.coalesce(F.col("nb_comp"), F.col("comp"))
                ).alias("new_comp"),
                "comp",
            )
            .localCheckpoint(eager=True)
        )
        rounds_done += 1
        changed = updated.filter(F.col("new_comp") != F.col("comp")).count()
        labels = updated.select("doc_id", F.col("new_comp").alias("comp"))
        if changed == 0:
            return updated, labels
    raise RuntimeError(
        f"dedup_components: no fixpoint after {max_rounds} label-"
        "propagation rounds — use dedup_components_bigstar (O(log n) "
        "rounds) for high-diameter graphs, or raise max_rounds"
    )


@register("dedup_components", oracle=_cc_oracle_sql())
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the near-dup pair graph -> canonical doc
    per duplicate cluster (the final step of corpus dedup: keep one doc per
    component).

    Label propagation to a fixpoint: every doc starts as its own component;
    each round propagates the minimum component id across pair edges (both
    directions). The fixture graph's components have small diameter, so this
    converges in a few rounds; at 100 TB the same loop runs with the
    large-star/small-star optimization (Kiveris et al.) — alternate
    min-propagation shapes that keep per-round shuffle volume near-linear.
    Driver holds only the convergence counter, never data.
    """
    d = load(spark, sf_dir, "documents")

    def build():
        # the loop runs Spark jobs at plan-construction time, so the
        # converged fixpoint is a session memo (the ``updated`` frame: on
        # the iterative path it is the checkpoint whose blocks release frees)
        pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
        return _label_propagate(pairs, d.select("doc_id"))[0]

    labels = memo(spark, sf_dir, "cc_label_prop", build).select(
        "doc_id", F.col("new_comp").alias("comp")
    )
    return (
        labels.groupBy("comp")
        .agg(F.count(F.lit(1)).alias("cluster_size"), F.min("doc_id").alias("keep_doc"))
        .filter(F.col("cluster_size") > 1)
    )


@register(
    "doc_winnowing",
    oracle=f"""
    WITH h AS (
      SELECT doc_id,
             list_transform(
               list_transform(generate_series(1, len(t) - 2),
                 i -> concat(t[i], ' ', t[i+1], ' ', t[i+2])),
               s -> CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT)) AS hs
      FROM (SELECT doc_id, string_split(text, ' ') AS t
            FROM documents WHERE doc_id < 300)
      WHERE len(t) >= 6
    )
    SELECT doc_id,
           array_to_string(list_sort(list_distinct(
             list_transform(generate_series(1, len(hs) - 3),
               w -> list_min(hs[w:w+3])))), ',') AS fingerprint
    FROM h
    """,
)
def doc_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint (Schleimer/Wilkerson/Aiken): k-gram hashes ->
    sliding window of 4 -> min hash per window -> distinct set. Guarantees
    any sufficiently long shared substring contributes a shared fingerprint
    entry — the plagiarism/near-dup detection classic, all as array
    expressions (hash positions stay inside the row; no explode)."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    # token array staged as a real column: see _doc_shingle_arrays
    t = F.col("_tk")
    tri = F.transform(
        F.sequence(F.lit(0), F.size(t) - 3),
        lambda i: F.concat_ws(
            " ",
            F.element_at(t, (i + 1).cast("int")),
            F.element_at(t, (i + 2).cast("int")),
            F.element_at(t, (i + 3).cast("int")),
        ),
    )
    base = (
        d.filter(F.size(F.split("text", " ")) >= 6)
        .select("doc_id", F.split("text", " ").alias("_tk"))
        .select("doc_id", F.transform(tri, _h64).alias("hs"))
    )
    windows_min = F.transform(
        F.sequence(F.lit(1), F.size("hs") - 3),
        lambda w: F.array_min(F.slice("hs", w.cast("int"), 4)),
    )
    # ','-joined scalar rendering: the driver canonicalizer cannot hash
    # array cells. Sorted-distinct first, so the join is deterministic.
    return base.select(
        "doc_id",
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(F.array_distinct(windows_min)), lambda x: x.cast("string")
            ),
        ).alias("fingerprint"),
    )


# ---------------------------------------------------------------------------
# Round-2 additions
# ---------------------------------------------------------------------------

# deterministic PII-bearing text: the fixture corpus is synthetic and clean,
# so the query plants an email / phone / id derived from doc_id, then
# redacts them — both sides of the oracle build and scrub identical strings.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\+\d{1,2}-\d{3}-\d{4}"
_PII_NINE = r"\b\d{9}\b"


@register(
    "text_pii_redact",
    oracle=f"""
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(
             concat(substr(text, 1, 40), ' reach user', doc_id,
                    '@mail.example.org or +1-555-',
                    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
                    ' id ', lpad(CAST(doc_id AS VARCHAR), 9, '0'), ' end'),
             '{_PII_EMAIL}', '<EMAIL>', 'g'),
             '{_PII_PHONE}', '<PHONE>', 'g'),
             '{_PII_NINE}', '<ID>', 'g') AS redacted
    FROM documents WHERE doc_id < 400
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the standard pre-training redaction pass (emails,
    phone numbers, 9-digit ids -> typed placeholders) as chained JVM
    regexp_replace (Spark replaces globally by default; the DuckDB oracle
    needs the 'g' flag). Patterns are RE2-safe so both engines agree. At
    100 TB this is a pure map stage — no shuffle, full codegen."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    planted = F.concat(
        F.substring("text", 1, 40),
        F.lit(" reach user"), F.col("doc_id").cast("string"),
        F.lit("@mail.example.org or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" id "), F.lpad(F.col("doc_id").cast("string"), 9, "0"),
        F.lit(" end"),
    )
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(planted, _PII_EMAIL, "<EMAIL>"),
            _PII_PHONE,
            "<PHONE>",
        ),
        _PII_NINE,
        "<ID>",
    )
    return d.select("doc_id", red.alias("redacted"))


_SSW_W = 20  # tokens per exact-substring window (Lee et al. 2022 use 50
# BPE tokens; 20 whitespace tokens is the same order on the fixture docs)


@register(
    "dedup_substring_windows",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    ok AS (SELECT doc_id, t, len(t) - {_SSW_W} + 1 AS nw
           FROM toks WHERE len(t) >= {_SSW_W}),
    wins AS (
      -- index grid bounded at 4096 (fixture docs max ~100 tokens; the
      -- WHERE i <= nw filter makes any larger bound a no-op)
      SELECT doc_id, md5(array_to_string(t[i:i+{_SSW_W}-1], ' ')) AS h
      FROM ok, (SELECT unnest(generate_series(1, 4096)) AS i) g
      WHERE i <= nw),
    dupw AS (SELECT h FROM wins GROUP BY h
             HAVING COUNT(DISTINCT doc_id) > 1),
    per AS (SELECT w.doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_windows
            FROM wins w JOIN dupw USING (h) GROUP BY 1)
    SELECT o.doc_id, CAST(o.nw AS BIGINT) AS n_windows,
           COALESCE(p.n_dup_windows, CAST(0 AS BIGINT)) AS n_dup_windows,
           ROUND(CAST(COALESCE(p.n_dup_windows, 0) AS DOUBLE) / o.nw, 6)
             AS dup_frac
    FROM ok o LEFT JOIN per p USING (doc_id)
    """,
)
def dedup_substring_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-window duplication audit — the Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better")
    ExactSubstr metric re-expressed relationally: every ``_SSW_W``-token
    sliding window is hashed; a window whose hash occurs in MORE THAN ONE
    document is a cross-corpus duplicated span, and each document reports
    how many of its window positions are duplicated elsewhere
    (``dup_frac`` is the curation filter threshold — docs that are mostly
    boilerplate shared with other docs get dropped or trimmed).

    Plan: explode windows (JVM index-transform over the token array, like
    text_bigram_lm's bigrams), one partial-agg groupBy for the
    document-frequency table, one hash-partitioned equi-join back, one
    per-doc count. Unlike pair-based dedup there is NO self-join anywhere
    — work is strictly LINEAR in total window count even when one
    boilerplate window occurs in a million documents (each occurrence
    contributes one row, never k^2 pairs), which is exactly why suffix /
    substring dedup is the scalable complement to MinHash at 100 TB.
    The suffix-array construction of the paper collapses to hashing
    because fixed-length windows are enough for the span METRIC; span
    RECOVERY (start offsets) would add one more explode of matched
    positions, still linear."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t")).filter(
        F.size("t") >= _SSW_W
    )
    wins = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(t) - {_SSW_W} + 1),"
                f" i -> md5(concat_ws(' ', slice(t, i, {_SSW_W}))))"
            )
        ).alias("h"),
    )
    dupw = (
        wins.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") > 1)
        .select("h")
    )
    per = (
        wins.join(dupw, "h")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_dup_windows"))
    )
    base = toks.select(
        "doc_id", (F.size("t") - _SSW_W + 1).cast("long").alias("n_windows")
    )
    return base.join(per, "doc_id", "left").select(
        "doc_id",
        "n_windows",
        F.coalesce(F.col("n_dup_windows"), F.lit(0)).cast("long").alias(
            "n_dup_windows"
        ),
        F.round(
            F.coalesce(F.col("n_dup_windows"), F.lit(0)) / F.col("n_windows"), 6
        ).alias("dup_frac"),
    )


@register(
    "dedup_keep_longest",
    oracle="""
    SELECT doc_id, n_chars, n_copies FROM (
      SELECT doc_id, n_chars,
             COUNT(*) OVER (PARTITION BY norm) AS n_copies,
             ROW_NUMBER() OVER (PARTITION BY norm
                                ORDER BY n_chars DESC, doc_id) AS rk
      FROM (SELECT doc_id, n_chars,
                   lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm
            FROM documents))
    WHERE rk = 1
    """,
)
def dedup_keep_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup with the keep-LONGEST policy (vs dedup_exact_text's
    keep-lowest-id): the usual choice when near-identical docs differ by
    truncation. Window per normalized-text group; at 100 TB group on
    sha2(norm) to keep the shuffle key fixed-width."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    norm = _norm_text(F.col("text"))
    w = Window.partitionBy("norm").orderBy(F.col("n_chars").desc(), "doc_id")
    return (
        d.select("doc_id", "n_chars", norm.alias("norm"))
        .withColumn("n_copies", F.count(F.lit(1)).over(Window.partitionBy("norm")))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("doc_id", "n_chars", "n_copies")
    )


def _cc_sym(e: DataFrame) -> DataFrame:
    return e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


@register("dedup_components_bigstar", oracle=_cc_oracle_sql())
def dedup_components_bigstar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components via alternating LARGE-STAR / SMALL-STAR
    (Kiveris et al., "Connected Components in MapReduce and Beyond") — the
    O(log n)-round formulation whose per-round shuffle stays near-linear in
    the edge count, i.e. the 100 TB path that plain label propagation
    (dedup_components, O(diameter) rounds) is not.

    large-star: every node u links its LARGER neighbors to min(N(u) u {u});
    small-star: every node u links its smaller-or-equal neighbors there.
    Both preserve connectivity and strictly shrink star height; at the
    fixpoint each non-root node holds exactly one edge to its component
    minimum. The driver holds only a (count, checksum) convergence pair per
    round. Output schema matches dedup_components: one row per duplicate
    cluster (comp = min doc id), asserted equal in tests."""

    def _summary(star: DataFrame) -> DataFrame:
        return (
            star.groupBy(F.col("src").alias("comp"))
            .agg(F.count(F.lit(1)).alias("n_members"))
            .select(
                "comp",
                (F.col("n_members") + 1).alias("cluster_size"),
                F.col("comp").alias("keep_doc"),
            )
            .filter(F.col("cluster_size") > 1)
        )

    def build() -> DataFrame:
        pairs = dedup_ngram_jaccard(spark, sf_dir).select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        )
        # Lineage MUST be truncated between rounds: each star step references its
        # input 2+ times, so the nested logical plan grows geometrically per
        # round — analysis alone was the round-3 86s-at-sf0.01 pathology and blew
        # the heap of a default-1g driver session. ``localCheckpoint(eager)``
        # materializes and cuts the plan; on a real cluster swap in reliable
        # ``checkpoint()`` against the cluster FS (survives executor loss).
        und = (
            pairs.select(F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint(eager=True)
        )

        def _star(e: DataFrame, large: bool) -> DataFrame:
            """One large-star (link larger neighbors to the min) or small-star
            (link smaller-or-equal ones) step over a symmetric edge list; returns
            the canonical undirected result."""
            mn = (
                e.groupBy("src")
                .agg(F.min("dst").alias("mnd"))
                .select("src", F.least(F.col("mnd"), F.col("src")).alias("m"))
            )
            if large:
                moved = (
                    e.join(mn, "src")
                    .filter(F.col("dst") > F.col("src"))
                    .select(F.col("dst").alias("a"), F.col("m").alias("b"))
                )
            else:
                moved = (
                    e.join(mn, "src")
                    .filter(F.col("dst") <= F.col("src"))
                    .select(F.col("dst").alias("a"), F.col("m").alias("b"))
                    .unionByName(mn.select(F.col("src").alias("a"), F.col("m").alias("b")))
                )
            return (
                moved.select(F.least("a", "b").alias("src"), F.greatest("a", "b").alias("dst"))
                .filter(F.col("src") != F.col("dst"))
                .distinct()
            )

        max_rounds = 15
        prev_chk = None
        converged = False
        for _ in range(max_rounds):
            # checkpoint blocks of superseded rounds are reclaimed by the
            # ContextCleaner once the Python references drop out of scope
            ls = _star(_cc_sym(und), large=True).localCheckpoint(eager=True)
            und = _star(_cc_sym(ls), large=False).localCheckpoint(eager=True)
            chk = und.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("src") * 31 + F.col("dst")).alias("s"),
            ).first()
            if prev_chk == (chk.n, chk.s):
                converged = True
                break
            prev_chk = (chk.n, chk.s)
        # Silently-wrong clusters are worse than a loud failure: at the
        # fixpoint every undirected edge must be (component-min, member),
        # which only holds if the LS/SS alternation actually converged.
        if not converged:
            raise RuntimeError(
                f"dedup_components_bigstar: no fixpoint after {max_rounds} "
                "LS/SS rounds — raise max_rounds or inspect the edge graph"
            )
        return und

    return _summary(memo(spark, sf_dir, "cc_bigstar", build))


_CONTAIN_T = 0.7  # containment threshold


@register(
    "dedup_containment",
    oracle=f"""
    WITH sh AS ({_SHINGLES_SQL}),
    hot AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) > {_SH_DF_CAP}),
    shc AS (SELECT sh.* FROM sh ANTI JOIN hot USING (shingle)),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND a.shingle = b.shingle
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT c.doc_a, c.doc_b, c.n_common,
           ROUND(CAST(c.n_common AS DOUBLE) / least(sa.n_sh, sb.n_sh), 6)
             AS containment
    FROM common c
    JOIN sizes sa ON sa.doc_id = c.doc_a
    JOIN sizes sb ON sb.doc_id = c.doc_b
    WHERE CAST(c.n_common AS DOUBLE) / least(sa.n_sh, sb.n_sh) >= {_CONTAIN_T}
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup: shingle containment |A∩B| / min(|A|, |B|) —
    catches a short document embedded inside a long one (quote farms,
    templated wrappers), which symmetric Jaccard misses because the union
    in its denominator is dominated by the longer doc. Same DF-capped
    candidate machinery as dedup_ngram_jaccard (the cap bounds join cost,
    and pairs whose only overlap is hot shingles fall below threshold);
    verification runs on the FULL shingle sets so the reported
    containment is exact."""
    d = load(spark, sf_dir, "documents")
    sh = memo(spark, sf_dir, "shingles", lambda: _shingles(d).persist())
    cand = memo(spark, sf_dir, "jacc_cand", lambda: _jaccard_candidates(sh).persist())
    # exact verify from pair common-counts (r14; see _pair_exact_common)
    arrs = memo(spark, sf_dir, "doc_arrays", lambda: _doc_shingle_arrays(d).persist())
    stats = _pair_exact_common(sh, arrs, cand)
    n_common = F.col("n_common")
    cont = n_common.cast("double") / F.least(F.col("n_a"), F.col("n_b"))
    return (
        stats.filter(cont >= _CONTAIN_T)
        .select(
            "doc_a",
            "doc_b",
            n_common.cast("long").alias("n_common"),
            F.round(cont, 6).alias("containment"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental near-dup: new batch vs existing index (round 6)
# ---------------------------------------------------------------------------
_INC_SPLIT = 400  # doc_id >= _INC_SPLIT is the newly-arrived delta batch


@register(
    "dedup_incremental_minhash",
    oracle=f"""
    WITH sh AS ({_SHINGLES_SQL}),
    {_minhash_sig_sql()},
    bands AS (
      {" UNION ALL ".join(
          f"SELECT doc_id, {b} AS band, md5(concat_ws(',', {', '.join(cols)})) AS bkey FROM sig"
          for b, cols in enumerate(_band_exprs())
      )}
    ),
    hotb AS (SELECT band, bkey FROM bands
             GROUP BY band, bkey HAVING COUNT(*) > {_LSH_BUCKET_CAP}),
    bands_c AS (SELECT bands.* FROM bands ANTI JOIN hotb USING (band, bkey)),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands_c a JOIN bands_c b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
      WHERE b.doc_id >= {_INC_SPLIT}
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND a.shingle = b.shingle
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT c.doc_a, c.doc_b,
           ROUND(CAST(c.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - c.n_common), 6)
             AS jaccard,
           CASE WHEN c.doc_a < {_INC_SPLIT} THEN 'index' ELSE 'delta' END
             AS match_side
    FROM common c
    JOIN sizes sa ON sa.doc_id = c.doc_a
    JOIN sizes sb ON sb.doc_id = c.doc_b
    WHERE CAST(c.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - c.n_common)
          >= {_JACCARD_T}
    """,
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash dedup — THE production dedup shape at 100 TB:
    only the newly-arrived delta batch (doc_id >= {_INC_SPLIT}) computes
    fresh signatures, and its band rows probe the EXISTING band index;
    index-vs-index pairs are never generated (they were deduped when the
    index was built). Each delta doc is reported against whatever it
    collides with — an index doc ('index') or another delta doc
    ('delta') — and verified with exact Jaccard over the shingle arrays.

    Plan shape vs `dedup_near_minhash`: identical signature/band
    machinery (shared memoized caches), but the candidate join's build
    side is only the delta's band rows — at a 1% daily delta that is a
    100x smaller join probe, and the band index itself is the artifact a
    production pipeline persists between runs (here: the memoized bands
    frame stands in for it)."""
    d = load(spark, sf_dir, "documents")
    arrs = memo(spark, sf_dir, "doc_arrays", lambda: _doc_shingle_arrays(d).persist())
    bands = memo(spark, sf_dir, "bands", lambda: _bands(arrs).persist())
    hotb = (
        bands.groupBy("band", "bkey")
        .agg(F.count(F.lit(1)).alias("bn"))
        .filter(F.col("bn") > _LSH_BUCKET_CAP)
        .select("band", "bkey")
    )
    bands_c = bands.join(F.broadcast(hotb), ["band", "bkey"], "left_anti")
    delta_bands = bands_c.filter(F.col("doc_id") >= _INC_SPLIT)
    a, b = bands_c.alias("a"), delta_bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    pairs = cand.join(
        arrs.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")),
        "doc_a",
    ).join(
        arrs.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")),
        "doc_b",
    )
    n_common = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = n_common.cast("double") / (F.size("sh_a") + F.size("sh_b") - n_common)
    side = F.when(F.col("doc_a") < _INC_SPLIT, "index").otherwise("delta")
    return pairs.filter(jac >= _JACCARD_T).select(
        "doc_a",
        "doc_b",
        F.round(jac, 6).alias("jaccard"),
        side.alias("match_side"),
    )


# ---------------------------------------------------------------------------
# BPE merge-rule learning (round 6)
# ---------------------------------------------------------------------------
_BPE_ROUNDS = 8


def _bpe_merge_rounds(batches):
    """All BPE merge rounds over the (bracket-symbol word, freq) table in
    one task — see bpe_train_merges for the exactness argument vs the
    per-round relational unroll (order-exact integer-valued sums,
    identical ASCII tie-break, identical left-to-right non-overlapping
    replace)."""
    import pandas as pd

    words: list[tuple[str, float]] = []
    for pdf in batches:
        words.extend(zip(pdf["ws"], pdf["freq"]))
    merges: list[tuple[int, str, str, int]] = []
    for t in range(1, _BPE_ROUNDS + 1):
        cnt: dict[tuple[str, str], float] = {}
        for ws, fq in words:
            syms = ws.split(" ")
            for i in range(len(syms) - 1):
                k = (syms[i], syms[i + 1])
                cnt[k] = cnt.get(k, 0.0) + fq
        if not cnt:
            break
        (p1, p2), c = min(
            cnt.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merged = "<" + p1[1:-1] + p2[1:-1] + ">"
        merges.append((t, p1[1:-1], p2[1:-1], int(c)))
        pat, rep = f"{p1} {p2}", merged
        words = [(ws.replace(pat, rep), fq) for ws, fq in words]
    yield pd.DataFrame(
        {
            "round": pd.array([m[0] for m in merges], dtype="int32"),
            "left_sym": [m[1] for m in merges],
            "right_sym": [m[2] for m in merges],
            "pair_count": pd.array([m[3] for m in merges], dtype="int64"),
        }
    )


def _bpe_oracle() -> str:
    rounds = []
    for t in range(1, _BPE_ROUNDS + 1):
        rounds.append(f"""
    pairs{t} AS MATERIALIZED (
      SELECT s[i] AS p1, s[i + 1] AS p2, CAST(SUM(freq) AS BIGINT) AS cnt
      FROM (SELECT string_split(ws, ' ') AS s, freq FROM w{t - 1}),
           (SELECT unnest(generate_series(1, 4096)) AS i) g
      WHERE i < len(s)
      GROUP BY 1, 2
    ),
    top{t} AS MATERIALIZED (
      SELECT {t} AS round, p1, p2, cnt FROM pairs{t}
      ORDER BY cnt DESC, p1, p2 LIMIT 1
    ),
    w{t} AS MATERIALIZED (
      SELECT replace(w.ws, tp.p1 || ' ' || tp.p2,
                     '<' || regexp_extract(tp.p1, '<(.*)>', 1)
                         || regexp_extract(tp.p2, '<(.*)>', 1) || '>') AS ws,
             w.freq
      FROM w{t - 1} w CROSS JOIN top{t} tp
    )""")
    union = " UNION ALL ".join(f"SELECT * FROM top{t}" for t in range(1, _BPE_ROUNDS + 1))
    return f"""
    WITH words AS (
      SELECT token, CAST(COUNT(*) AS DOUBLE) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      GROUP BY token
    ),
    w0 AS MATERIALIZED (
      SELECT rtrim(regexp_replace(token, '(.)', '<\\1> ', 'g')) AS ws, freq
      FROM words
    ),{",".join(rounds)}
    SELECT round, regexp_extract(p1, '<(.*)>', 1) AS left_sym,
           regexp_extract(p2, '<(.*)>', 1) AS right_sym, cnt AS pair_count
    FROM ({union}) z
    """


@register("bpe_train_merges", oracle=_bpe_oracle())
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding merge-rule learning (Sennrich et al. 2016 — the
    tokenizer-training algorithm behind GPT/Llama vocabularies) as pure
    relational algebra: {_BPE_ROUNDS} greedy rounds, each (1) counting
    adjacent symbol pairs over the word-frequency table and (2) merging
    the most frequent pair corpus-wide. Returns the learned merge table
    (round, left, right, pair count) — the artifact a tokenizer ships.

    Representation is the trick that keeps BOTH the merge and the oracle
    engine-exact: each word is a string of bracket-wrapped symbols
    ('<h> <e> <l> <l> <o>'), so the pair merge is ONE literal
    replace(p1 + ' ' + p2 -> merged) — string replace is left-to-right
    non-overlapping in the JVM and DuckDB alike, which IS greedy BPE
    semantics ('<a> <a> <a>' + (a,a) -> '<aa> <a>', verified), and the
    brackets anchor symbol boundaries so a pair can never match inside a
    longer symbol. Ties break (count desc, pair lex) identically.

    Scale: the corpus collapses to the word-frequency table up front
    (the standard BPE contraction — pair statistics are linear in
    VOCABULARY, not corpus size); each round is one partial-agg pair
    count + a narrow replace projection, with only the single winning
    pair (1 row) collected per round — the same bounded driver state as
    vec_kmeans' centroids. Fixture tokens are alphanumeric, so '<'/'>'
    cannot collide with symbol text."""
    d = load(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("double").alias("freq"))
    )
    # materialize the word-frequency table ONCE (r10): every round ends in
    # its own collect action, so without the cut round t re-executed the
    # corpus explode + groupBy t times over (lineage re-runs, measured
    # 5.3s -> ~1.5s at sf0.1). The checkpoint is O(vocabulary) — exactly
    # the contraction the docstring claims BPE rides on.
    w0 = words.select(
        F.rtrim(F.regexp_replace("token", "(.)", "<$1> ")).alias("ws"), "freq"
    ).localCheckpoint(eager=True)
    # All {_BPE_ROUNDS} merge rounds run in ONE task over the coalesced
    # word table (r14; was: per round one pair-count aggregate + an
    # orderBy-limit-1 collect — 8 driver round trips of machinery over the
    # same O(vocabulary) rows). Exactness vs the relational unroll:
    # frequencies are whole numbers, so pair-count sums are order-exact in
    # doubles (<= 2^53), the (count desc, p1, p2) tie-break compares ASCII
    # bracket symbols identically in Python and the JVM, and Python
    # str.replace is the same left-to-right non-overlapping scan as
    # Spark's replace() — the property the bracket representation was
    # chosen for. A real tokenizer trainer is exactly this: distributed
    # corpus -> word-frequency contraction, then a single-node merge loop
    # over the vocabulary (guide §4.2).
    out = (
        w0.coalesce(1)
        .mapInPandas(
            _bpe_merge_rounds,
            "round int, left_sym string, right_sym string, pair_count bigint",
        )
        .localCheckpoint(eager=True)  # 8 rows; lets w0's blocks free now
    )
    release(w0)
    return out


# ---------------------------------------------------------------------------
# RAKE keyphrase extraction (round 6)
# ---------------------------------------------------------------------------
_RAKE_STOP = ("a", "the", "of", "and", "in", "to")
_RAKE_TOPK = 25


@register(
    "text_keyphrase_rake",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, i AS pos, t[i] AS tok
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           (SELECT unnest(generate_series(1, 4096)) AS i) g
      WHERE i <= len(t)
    ),
    content AS (
      SELECT doc_id, pos, tok,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM toks WHERE tok NOT IN {_RAKE_STOP}
    ),
    phrases AS (
      SELECT doc_id, grp,
             string_agg(tok, ' ' ORDER BY pos) AS phrase,
             CAST(COUNT(*) AS BIGINT) AS plen
      FROM content GROUP BY doc_id, grp
    ),
    pw AS (
      SELECT p.phrase, p.plen, unnest(string_split(p.phrase, ' ')) AS w
      FROM phrases p
    ),
    wstats AS (
      SELECT w, CAST(COUNT(*) AS DOUBLE) AS freq,
             CAST(SUM(plen) AS DOUBLE) AS degree
      FROM pw GROUP BY w
    ),
    distinct_p AS (
      SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occurrences
      FROM phrases GROUP BY phrase
    ),
    scored AS (
      SELECT d.phrase, d.n_occurrences,
             CAST(FLOOR(SUM(ws.degree / ws.freq) * 1000000) AS BIGINT)
               AS score_micro
      FROM distinct_p d,
           (SELECT phrase AS ph, unnest(string_split(phrase, ' ')) AS w
            FROM distinct_p) x
      JOIN wstats ws ON ws.w = x.w
      WHERE x.ph = d.phrase
      GROUP BY d.phrase, d.n_occurrences
    )
    SELECT phrase, n_occurrences,
           CAST(score_micro AS DOUBLE) / 1000000 AS rake_score,
           CAST(rk AS INT) AS rk
    FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY score_micro DESC, phrase) AS rk
      FROM scored) z
    WHERE rk <= {_RAKE_TOPK}
    """,
)
def text_keyphrase_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010, Rapid Automatic
    Keyword Extraction): candidate phrases are the maximal stopword-free
    token runs (gaps-and-islands on position), each scored by the sum of
    its words' degree/frequency ratios — words that appear in LONG
    phrases (high degree) but rarely overall (low freq) mark the
    distinctive multiword terms. Returns the top-{_RAKE_TOPK} phrases.

    Plan: one posexplode + per-doc island window builds phrases; word
    statistics are a partial-agg groupBy over phrase words; phrase
    scores join the O(vocab) stats table back onto DISTINCT phrases.
    Scores rank as floor-micro integers (the repo's cross-engine ROUND
    convention). The global top-{_RAKE_TOPK} rank runs on the already-
    aggregated distinct-phrase table.

    Note the global ROW_NUMBER: its input is the distinct-phrase
    aggregate (O(phrases) << corpus) and the rk filter plans as a
    WindowGroupLimit — the same sanctioned shape as graph_node_similarity
    (tests/test_plans.py allowlist)."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    content = toks.filter(~F.col("tok").isin(*_RAKE_STOP)).withColumn(
        "grp",
        F.col("pos")
        - F.row_number().over(Window.partitionBy("doc_id").orderBy("pos")),
    )
    phrases = content.groupBy("doc_id", "grp").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("phrase"),
        F.count(F.lit(1)).cast("long").alias("plen"),
    )
    pw = phrases.select("phrase", "plen", F.explode(F.split("phrase", " ")).alias("w"))
    wstats = pw.groupBy("w").agg(
        F.count(F.lit(1)).cast("double").alias("freq"),
        F.sum("plen").cast("double").alias("degree"),
    )
    distinct_p = phrases.groupBy("phrase").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences")
    )
    scored = (
        distinct_p.select(
            "phrase", "n_occurrences", F.explode(F.split("phrase", " ")).alias("w")
        )
        .join(F.broadcast(wstats), "w")
        .groupBy("phrase", "n_occurrences")
        .agg(
            F.floor(F.sum(F.col("degree") / F.col("freq")) * 1e6)
            .cast("long")
            .alias("score_micro")
        )
    )
    w_rk = Window.orderBy(F.col("score_micro").desc(), "phrase")
    return (
        scored.withColumn("rk", F.row_number().over(w_rk))
        .filter(F.col("rk") <= _RAKE_TOPK)
        .select(
            "phrase",
            "n_occurrences",
            (F.col("score_micro").cast("double") / 1e6).alias("rake_score"),
            F.col("rk").cast("int").alias("rk"),
        )
    )


# ---------------------------------------------------------------------------
# Document-level co-occurrence PMI (round 8)
# ---------------------------------------------------------------------------
_PMI_MIN_DF = 25  # term must appear in >= this many docs to enter the pair join
_PMI_MIN_PAIRS = 10  # pair must co-occur in >= this many docs to be scored
_PMI_TOPK = 50


@register(
    "text_cooccurrence_pmi",
    oracle=f"""
    WITH tok AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents
    ),
    n_docs AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS nd FROM tok),
    df AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df
      FROM tok GROUP BY 1
      HAVING COUNT(*) >= {_PMI_MIN_DF}
    ),
    elig AS (SELECT t.doc_id, t.term, d.df FROM tok t JOIN df d USING (term)),
    pairs AS (
      SELECT a.term AS term_a, b.term AS term_b,
             MIN(a.df) AS df_a, MIN(b.df) AS df_b,
             CAST(COUNT(*) AS BIGINT) AS n_co
      FROM elig a JOIN elig b ON b.doc_id = a.doc_id AND a.term < b.term
      GROUP BY 1, 2
      HAVING COUNT(*) >= {_PMI_MIN_PAIRS}
    )
    SELECT term_a, term_b, n_co,
           ROUND(ln(n_co * nd / (df_a * df_b)), 6) AS pmi
    FROM pairs CROSS JOIN n_docs
    ORDER BY pmi DESC, term_a, term_b
    LIMIT {_PMI_TOPK}
    """,
)
def text_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level pointwise mutual information of term pairs:
    PMI(a,b) = ln(P(a,b) / (P(a)P(b))) with probabilities over documents —
    the classic word-association statistic (Church & Hanks 1990) behind
    collocation mining, PPMI embedding matrices, and topic-coherence
    scores (UMass/UCI coherence are PMI sums). Top-{_PMI_TOPK} pairs above
    a co-occurrence support floor.

    Scale: the pair blow-up is quadratic PER DOCUMENT in eligible distinct
    terms, so eligibility is the guard — a document-frequency floor
    (df >= {_PMI_MIN_DF}) prunes the tail vocabulary BEFORE the self-join
    (at web scale you'd add a per-doc distinct-token cap, the
    `graph_node_similarity` degree-cap pattern). The distinct (doc, term)
    projection partial-aggregates map-side; the self-join shuffles on
    doc_id only; everything after is O(vocab^2) bounded rows. PMI enters
    the hash after ROUND(·, 6) of a ratio of exact integers — only ln's
    last ulp is exposed (the text_zipf class)."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).distinct()
    nd = tok.agg(F.countDistinct("doc_id").cast("double").alias("nd"))
    df = (
        tok.groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .filter(F.col("df") >= _PMI_MIN_DF)
    )
    elig = tok.join(F.broadcast(df), "term")
    a = elig.select(
        F.col("doc_id"), F.col("term").alias("term_a"), F.col("df").alias("dfa")
    )
    b = elig.select(
        F.col("doc_id"), F.col("term").alias("term_b"), F.col("df").alias("dfb")
    )
    pairs = (
        a.join(b, ["doc_id"])
        .filter(F.col("term_a") < F.col("term_b"))
        .groupBy("term_a", "term_b")
        .agg(
            F.min("dfa").alias("df_a"),
            F.min("dfb").alias("df_b"),
            F.count(F.lit(1)).cast("long").alias("n_co"),
        )
        .filter(F.col("n_co") >= _PMI_MIN_PAIRS)
    )
    return (
        pairs.crossJoin(F.broadcast(nd))
        .select(
            "term_a",
            "term_b",
            "n_co",
            F.round(
                F.log(F.col("n_co") * F.col("nd") / (F.col("df_a") * F.col("df_b"))),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "term_a", "term_b")
        .limit(_PMI_TOPK)
    )


# ---------------------------------------------------------------------------
# LSH recall / reduction audit (round 8)
# ---------------------------------------------------------------------------


@register(
    "dedup_lsh_recall",
    oracle=f"""
    WITH sh AS ({_SHINGLES_SQL}),
    hot AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) > {_SH_DF_CAP}),
    shc AS (SELECT sh.* FROM sh ANTI JOIN hot USING (shingle)),
    tc AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    tcommon AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
      FROM tc c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND a.shingle = b.shingle
      GROUP BY c.doc_a, c.doc_b
    ),
    truth AS (
      SELECT c.doc_a, c.doc_b
      FROM tcommon c
      JOIN sizes sa ON sa.doc_id = c.doc_a
      JOIN sizes sb ON sb.doc_id = c.doc_b
      WHERE CAST(c.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - c.n_common)
              >= {_JACCARD_T}
    ),
    {_minhash_sig_sql()},
    bands AS (
      {{band_union}}
    ),
    hotb AS (SELECT band, bkey FROM bands
             GROUP BY band, bkey HAVING COUNT(*) > {_LSH_BUCKET_CAP}),
    bands_c AS (SELECT bands.* FROM bands ANTI JOIN hotb USING (band, bkey)),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands_c a JOIN bands_c b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    ),
    ccommon AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND a.shingle = b.shingle
      GROUP BY c.doc_a, c.doc_b
    ),
    verified AS (
      SELECT c.doc_a, c.doc_b
      FROM ccommon c
      JOIN sizes sa ON sa.doc_id = c.doc_a
      JOIN sizes sb ON sb.doc_id = c.doc_b
      WHERE CAST(c.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - c.n_common)
              >= {_JACCARD_T}
    ),
    m AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM sizes) AS n_docs,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_cand,
             (SELECT CAST(COUNT(*) AS BIGINT)
              FROM truth t JOIN cand c
                ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b) AS n_hit,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM verified) AS n_verified
    )
    SELECT n_docs, n_truth, n_cand, n_hit, n_verified,
           ROUND(CAST(n_hit AS DOUBLE) / n_truth, 6) AS recall,
           ROUND(CAST(n_verified AS DOUBLE) / n_cand, 6) AS verify_precision,
           ROUND(1.0 - CAST(n_cand AS DOUBLE)
                       / (n_docs * (n_docs - 1) / 2.0), 6) AS reduction_ratio
    FROM m
    """.replace(
        "{band_union}",
        " UNION ALL ".join(
            f"SELECT doc_id, {b} AS band,"
            f" md5(concat_ws(',', {', '.join(cols)})) AS bkey FROM sig"
            for b, cols in enumerate(_band_exprs())
        ),
    ),
)
def dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH metrology: recall, verify-stage precision, and reduction ratio
    of the banded-minhash candidate generator against the EXACT-Jaccard
    ground truth (threshold {_JACCARD_T}) — the b/r S-curve audit every
    production LSH deployment runs before trusting its near-dup pass
    (Leskovec/Rajaraman/Ullman ch.3 tuning methodology, and the number
    the `dedup_near_minhash` docstring promises its unit tests pin: this
    registers the measurement itself so the driver hash-checks it).

    recall = truth pairs surfaced by banding; verify_precision = fraction
    of candidates that survive exact verification (wasted-verify cost);
    reduction_ratio = candidate volume vs the quadratic all-pairs space.

    Plan/scale: candidates are the bucket-capped band join
    (`dedup_near_minhash`) — the production path, linear in docs under its
    cap. The TRUTH stage is deliberately exact (df-capped shingle inverted
    index + full verify, the `dedup_ngram_jaccard` machinery) and is the
    expensive half BY DESIGN: its verify join scales with sum-of-df^2,
    which at the 10x near-dup synthetic tier (every doc cloned ~10x)
    reaches ~27M shingle-sharing pairs x shingle fanout. That is the
    inherent cost of ground truth, not of LSH — at real scale this audit
    runs over a SAMPLED corpus slice (truth on a 1-5% stratified sample
    bounds recall with tight CIs), while the candidate side stays full.
    One row out."""
    d = load(spark, sf_dir, "documents")
    sh = memo(spark, sf_dir, "shingles", lambda: _shingles(d).persist())
    arrs = memo(spark, sf_dir, "doc_arrays", lambda: _doc_shingle_arrays(d).persist())

    def exact_pairs(cand: DataFrame) -> DataFrame:
        # in-row array_intersect verify (see dedup_ngram_jaccard's r8 note)
        pairs = cand.join(
            arrs.select(
                F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")
            ),
            "doc_a",
        ).join(
            arrs.select(
                F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")
            ),
            "doc_b",
        )
        n_common = F.size(F.array_intersect("sh_a", "sh_b"))
        jac = n_common.cast("double") / (
            F.size("sh_a") + F.size("sh_b") - n_common
        )
        return pairs.filter(jac >= _JACCARD_T).select("doc_a", "doc_b")

    jacc = memo(spark, sf_dir, "jacc_cand", lambda: _jaccard_candidates(sh).persist())
    bands = memo(spark, sf_dir, "bands", lambda: _bands(arrs).persist())
    truth = exact_pairs(jacc)
    cand = _lsh_candidates(bands).select("doc_a", "doc_b")
    verified = exact_pairs(cand)
    n_docs = arrs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    n_truth = truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    n_cand = cand.agg(F.count(F.lit(1)).cast("long").alias("n_cand"))
    n_hit = truth.join(cand, ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_hit")
    )
    n_verified = verified.agg(F.count(F.lit(1)).cast("long").alias("n_verified"))
    m = (
        n_docs.crossJoin(n_truth)
        .crossJoin(n_cand)
        .crossJoin(n_hit)
        .crossJoin(n_verified)
    )
    nd = F.col("n_docs").cast("double")
    return m.select(
        "n_docs",
        "n_truth",
        "n_cand",
        "n_hit",
        "n_verified",
        F.round(F.col("n_hit").cast("double") / F.col("n_truth"), 6).alias("recall"),
        F.round(
            F.col("n_verified").cast("double") / F.col("n_cand"), 6
        ).alias("verify_precision"),
        F.round(
            1.0 - F.col("n_cand").cast("double") / (nd * (nd - 1) / 2.0), 6
        ).alias("reduction_ratio"),
    )


# ---------------------------------------------------------------------------
# Heaps' law vocabulary-growth fit (round 8)
# ---------------------------------------------------------------------------
_HEAPS_BUCKET = 50  # docs per growth checkpoint


@register(
    "text_heaps_law",
    oracle=f"""
    WITH tok AS MATERIALIZED (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents
    ),
    per_doc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok FROM tok GROUP BY 1
    ),
    first_seen AS (
      SELECT term, MIN(doc_id) AS d0 FROM tok GROUP BY term
    ),
    buckets AS (
      SELECT doc_id // {_HEAPS_BUCKET} AS bucket, SUM(n_tok) AS toks
      FROM per_doc GROUP BY 1
    ),
    news AS (
      SELECT d0 // {_HEAPS_BUCKET} AS bucket, CAST(COUNT(*) AS BIGINT) AS nv
      FROM first_seen GROUP BY 1
    ),
    curve AS MATERIALIZED (
      SELECT b.bucket,
             CAST(SUM(b.toks) OVER (ORDER BY b.bucket) AS BIGINT) AS cum_tokens,
             CAST(SUM(COALESCE(n.nv, 0)) OVER (ORDER BY b.bucket) AS BIGINT)
               AS cum_vocab
      FROM buckets b LEFT JOIN news n USING (bucket)
    ),
    fit AS (
      SELECT ROUND(regr_slope(ln(CAST(cum_vocab AS DOUBLE)),
                              ln(CAST(cum_tokens AS DOUBLE))), 6) AS beta,
             ROUND(regr_r2(ln(CAST(cum_vocab AS DOUBLE)),
                           ln(CAST(cum_tokens AS DOUBLE))), 6) AS fit_r2
      FROM curve
    )
    SELECT CAST(c.bucket AS INT) AS bucket, c.cum_tokens, c.cum_vocab,
           f.beta, f.fit_r2
    FROM curve c CROSS JOIN fit f
    """,
)
def text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth: cumulative distinct vocabulary V(n)
    against cumulative tokens n at {_HEAPS_BUCKET}-document checkpoints,
    with the log-log OLS exponent beta (natural corpora: V ~ K n^beta,
    beta ~ 0.4-0.6; a saturating curve — beta near 0, like this bounded
    synthetic vocabulary — means new data adds no new words, the
    diminishing-returns signal data-collection pipelines watch; the
    corpus-GROWTH complement to `text_zipf`'s static rank law).

    The curve needs no per-token ordering: a term's first occurrence is
    MIN(doc_id) (one partial-agg over the token explode — the
    `win_cumulative_distinct` first-occurrence trick), bucketed and
    running-summed over O(buckets) rows. The token explode is the only
    stage that sees corpus volume; the regression runs over the tiny
    checkpoint curve. Integer counts everywhere; only ln's last ulp is
    exposed before ROUND (text_zipf class)."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    per_doc = tok.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n_tok"))
    first_seen = tok.groupBy("term").agg(F.min("doc_id").alias("d0"))
    buckets = per_doc.groupBy(
        (F.col("doc_id") / _HEAPS_BUCKET).cast("long").alias("bucket")
    ).agg(F.sum("n_tok").alias("toks"))
    news = first_seen.groupBy(
        (F.col("d0") / _HEAPS_BUCKET).cast("long").alias("bucket")
    ).agg(F.count(F.lit(1)).cast("long").alias("nv"))
    w = Window.orderBy("bucket")
    curve = (
        buckets.join(news, "bucket", "left")
        .select(
            "bucket",
            F.sum("toks").over(w).cast("long").alias("cum_tokens"),
            F.sum(F.coalesce(F.col("nv"), F.lit(0)))
            .over(w)
            .cast("long")
            .alias("cum_vocab"),
        )
    )
    lv = F.log(F.col("cum_vocab").cast("double"))
    ln_ = F.log(F.col("cum_tokens").cast("double"))
    fit = curve.agg(
        F.round(F.regr_slope(lv, ln_), 6).alias("beta"),
        F.round(F.regr_r2(lv, ln_), 6).alias("fit_r2"),
    )
    return curve.crossJoin(F.broadcast(fit)).select(
        F.col("bucket").cast("int").alias("bucket"),
        "cum_tokens",
        "cum_vocab",
        "beta",
        "fit_r2",
    )


# ---------------------------------------------------------------------------
# Term burstiness / Fano factor (round 8)
# ---------------------------------------------------------------------------


@register(
    "text_term_burstiness",
    oracle="""
    WITH tok AS MATERIALIZED (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents
    ),
    nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n FROM tok),
    per AS (
      SELECT term, doc_id, CAST(COUNT(*) AS DOUBLE) AS c
      FROM tok GROUP BY 1, 2
    ),
    st AS (
      SELECT term,
             CAST(COUNT(*) AS BIGINT) AS df,
             SUM(c) AS total,
             SUM(c * c) AS sumsq
      FROM per GROUP BY term
    )
    SELECT s.term, s.df, CAST(s.total AS BIGINT) AS n_occurrences,
           ROUND(s.total / nd.n, 6) AS mean_per_doc,
           ROUND((s.sumsq / nd.n - (s.total / nd.n) * (s.total / nd.n))
                 / (s.total / nd.n), 6) AS fano
    FROM st s CROSS JOIN nd
    """,
)
def text_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term burstiness via the Fano factor (variance-to-mean ratio of
    per-document counts, absent docs counting zero — Church & Gale 1995):
    content words BURST (a doc that mentions one tends to repeat it,
    Fano >> 1) while function words spread Poisson-like (Fano ~ 1). The
    third static lens on the corpus next to `text_zipf` (rank-frequency)
    and `text_heaps_law` (growth), and the statistic behind burstiness-
    aware TF weighting and stopword induction without a stopword list.

    The zero-count docs never materialize: var over ALL N docs comes from
    the occurrence sums alone (E[c^2] - E[c]^2 with E over N), so the
    plan is one (term, doc) partial-agg plus an O(vocab) reduction —
    linear in tokens, and exact integer sums until the final two ratios
    (ROUND 6)."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    nd = tok.agg(F.countDistinct("doc_id").cast("double").alias("n"))
    per = tok.groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    st = per.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("c").alias("total"),
        F.sum(F.col("c") * F.col("c")).alias("sumsq"),
    )
    mean_ = F.col("total") / F.col("n")
    return st.crossJoin(F.broadcast(nd)).select(
        "term",
        "df",
        F.col("total").cast("long").alias("n_occurrences"),
        F.round(mean_, 6).alias("mean_per_doc"),
        F.round((F.col("sumsq") / F.col("n") - mean_ * mean_) / mean_, 6).alias(
            "fano"
        ),
    )


# ---------------------------------------------------------------------------
# Jensen-Shannon divergence between source vocabularies (round 8, cont.)
# ---------------------------------------------------------------------------
_JSD_SMOOTH = 0.5  # additive (Laplace) smoothing per vocab word


@register(
    "text_js_divergence",
    oracle=f"""
    WITH pair AS (
      SELECT s1.source AS src_a, s2.source AS src_b
      FROM (SELECT DISTINCT source FROM documents) s1
      JOIN (SELECT DISTINCT source FROM documents) s2
        ON s1.source < s2.source
    ),
    tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    counts AS (
      SELECT source, w, CAST(COUNT(*) AS DOUBLE) AS c
      FROM tok GROUP BY 1, 2
    ),
    vocab AS (SELECT DISTINCT w FROM counts),
    vn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM vocab),
    dense AS (
      SELECT p.src_a, p.src_b, v.w,
             (COALESCE(ca.c, 0) + {_JSD_SMOOTH})
               / (ta.t + {_JSD_SMOOTH} * vn.v) AS pa,
             (COALESCE(cb.c, 0) + {_JSD_SMOOTH})
               / (tb.t + {_JSD_SMOOTH} * vn.v) AS pb
      FROM pair p CROSS JOIN vocab v CROSS JOIN vn
      LEFT JOIN counts ca ON ca.source = p.src_a AND ca.w = v.w
      LEFT JOIN counts cb ON cb.source = p.src_b AND cb.w = v.w
      JOIN (SELECT source, SUM(c) AS t FROM counts GROUP BY source) ta
        ON ta.source = p.src_a
      JOIN (SELECT source, SUM(c) AS t FROM counts GROUP BY source) tb
        ON tb.source = p.src_b
    )
    SELECT src_a, src_b,
           FLOOR((SUM(pa * ln(2 * pa / (pa + pb)))
                  + SUM(pb * ln(2 * pb / (pa + pb)))) / 2 / ln(2)
                 * 1000000) / 1000000 AS jsd_bits
    FROM dense
    WHERE src_a IN ('src0', 'src1', 'src2')
      AND src_b IN ('src0', 'src1', 'src2')
    GROUP BY src_a, src_b
    """,
)
def text_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence (in bits) between source unigram
    distributions — the symmetric, bounded [0,1] corpus-drift measure
    data-mixing work standardizes on (KL explodes on unseen words; JSD
    with Laplace smoothing never does), here over the three first
    sources' pairs. Near 0 = same language; the fixture sources draw
    from one vocabulary, so the measured JSD ~ 0.001 bits IS the
    calibrated same-distribution floor a drifted source would stand
    out against. Complements `dq_psi` (binned scalar drift) and
    `text_importance_dsir` (which RANKS docs by such ratios).

    Plan: one tokenize partial-agg to O(sources x vocab) counts; the
    dense pair x vocab frame is a broadcast cross join of the tiny
    vocabulary (the TF-IDF corpus-scalar shape), one reduction per
    pair. At 100 TB the vocab is capped upstream (`text_vocab_topk`)
    and everything stays O(pairs x vocab). Smoothed probabilities are
    exact rationals of integer counts; only ln touches libm; FLOOR
    1e-6."""
    d = load(spark, sf_dir, "documents")
    srcs = ("src0", "src1", "src2")
    tok = d.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("w")
    )
    counts = tok.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    vocab = counts.select("w").distinct()
    vn = vocab.agg(F.count(F.lit(1)).cast("double").alias("v"))
    totals = counts.groupBy("source").agg(F.sum("c").alias("t"))
    pair = (
        counts.select("source")
        .distinct()
        .filter(F.col("source").isin(*srcs))
        .alias("s1")
        .join(
            counts.select("source").distinct().filter(F.col("source").isin(*srcs)).alias("s2"),
            F.col("s1.source") < F.col("s2.source"),
        )
        .select(
            F.col("s1.source").alias("src_a"), F.col("s2.source").alias("src_b")
        )
    )
    ca = counts.select(
        F.col("source").alias("ka"), F.col("w").alias("wa"), F.col("c").alias("cca")
    )
    cb = counts.select(
        F.col("source").alias("kb"), F.col("w").alias("wb"), F.col("c").alias("ccb")
    )
    ta = totals.select(F.col("source").alias("sta"), F.col("t").alias("tta"))
    tb = totals.select(F.col("source").alias("stb"), F.col("t").alias("ttb"))
    dense = (
        pair.crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(vn))
        .join(
            F.broadcast(ca),
            (F.col("src_a") == F.col("ka")) & (F.col("w") == F.col("wa")),
            "left",
        )
        .join(
            F.broadcast(cb),
            (F.col("src_b") == F.col("kb")) & (F.col("w") == F.col("wb")),
            "left",
        )
        .join(F.broadcast(ta), F.col("src_a") == F.col("sta"))
        .join(F.broadcast(tb), F.col("src_b") == F.col("stb"))
        .select(
            "src_a",
            "src_b",
            (
                (F.coalesce(F.col("cca"), F.lit(0.0)) + _JSD_SMOOTH)
                / (F.col("tta") + _JSD_SMOOTH * F.col("v"))
            ).alias("pa"),
            (
                (F.coalesce(F.col("ccb"), F.lit(0.0)) + _JSD_SMOOTH)
                / (F.col("ttb") + _JSD_SMOOTH * F.col("v"))
            ).alias("pb"),
        )
    )
    mid = F.col("pa") + F.col("pb")
    return dense.groupBy("src_a", "src_b").agg(
        (
            F.floor(
                (
                    F.sum(F.col("pa") * F.log(2 * F.col("pa") / mid))
                    + F.sum(F.col("pb") * F.log(2 * F.col("pb") / mid))
                )
                / 2
                / 0.6931471805599453
                * 1000000
            )
            / 1000000
        ).alias("jsd_bits")
    )


# ---------------------------------------------------------------------------
# Burrows' Delta stylometric distance (round 8, continuation)
# ---------------------------------------------------------------------------
_DELTA_TOPW = 20  # most-frequent-word basis (the classic Delta setting)
_DELTA_SRCS = ("src0", "src1", "src2")


@register(
    "text_burrows_delta",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    counts AS (
      SELECT source, w, CAST(COUNT(*) AS DOUBLE) AS c FROM tok GROUP BY 1, 2
    ),
    topw AS (
      SELECT w FROM (SELECT w, SUM(c) AS tc FROM counts GROUP BY w)
      ORDER BY tc DESC, w ASC LIMIT {_DELTA_TOPW}
    ),
    totals AS (SELECT source, SUM(c) AS t FROM counts GROUP BY source),
    freq AS (
      SELECT s.source, v.w, COALESCE(c.c, 0) / s.t AS f
      FROM totals s CROSS JOIN topw v
      LEFT JOIN counts c ON c.source = s.source AND c.w = v.w
    ),
    zs AS (
      SELECT source, w,
             (f - AVG(f) OVER (PARTITION BY w))
             / stddev_samp(f) OVER (PARTITION BY w) AS z
      FROM freq
    )
    SELECT a.source AS src_a, b.source AS src_b,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           FLOOR(AVG(ABS(a.z - b.z)) * 10000) / 10000 AS burrows_delta
    FROM zs a JOIN zs b ON a.w = b.w AND a.source < b.source
    WHERE a.source IN {_DELTA_SRCS} AND b.source IN {_DELTA_SRCS}
    GROUP BY 1, 2
    """,
)
def text_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta (2002) — THE stylometric authorship-attribution
    distance: z-score each of the {_DELTA_TOPW} most frequent words'
    relative frequencies ACROSS the source population (function words
    carry style, content words carry topic — that is why the basis is
    the top of the frequency list), then Delta(a, b) = mean |z_a - z_b|
    over the basis. Reported for the first three sources' pairs;
    low Delta = same "author" (generator), which is exactly the
    fixture's truth — all sources share one generator, so Delta sits
    well below 1 (the z-scores' own scale): the calibrated
    same-style floor. Complements `text_js_divergence` (distributional,
    topic-sensitive) with the style-sensitive normalization.

    Plan: one tokenize partial agg, TakeOrdered top-{_DELTA_TOPW} basis
    (sort+limit, no global window), dense source x basis frame via a
    broadcast cross join, per-word z via a word-PARTITIONED window over
    O(sources) rows, pairwise reduction. Frequencies are exact count
    ratios; FLOOR 1e-4."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(F.split(F.col("text"), " ")).alias("w"))
    counts = tok.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    topw = (
        counts.groupBy("w")
        .agg(F.sum("c").alias("tc"))
        .orderBy(F.col("tc").desc(), F.col("w").asc())
        .limit(_DELTA_TOPW)
        .select("w")
    )
    totals = counts.groupBy("source").agg(F.sum("c").alias("t"))
    ckey = counts.select(
        F.col("source").alias("ks"), F.col("w").alias("kw"), "c"
    )
    freq = (
        totals.crossJoin(F.broadcast(topw))
        .join(
            F.broadcast(ckey),
            (F.col("source") == F.col("ks")) & (F.col("w") == F.col("kw")),
            "left",
        )
        .select(
            "source", "w", (F.coalesce(F.col("c"), F.lit(0.0)) / F.col("t")).alias("f")
        )
    )
    wz = Window.partitionBy("w")
    zs = freq.select(
        "source",
        "w",
        (
            (F.col("f") - F.avg("f").over(wz)) / F.stddev_samp("f").over(wz)
        ).alias("z"),
    )
    a = zs.select(F.col("source").alias("src_a"), F.col("w").alias("wa"), F.col("z").alias("za"))
    b = zs.select(F.col("source").alias("src_b"), F.col("w").alias("wb"), F.col("z").alias("zb"))
    return (
        a.join(b, (F.col("wa") == F.col("wb")) & (F.col("src_a") < F.col("src_b")))
        .filter(F.col("src_a").isin(*_DELTA_SRCS) & F.col("src_b").isin(*_DELTA_SRCS))
        .groupBy("src_a", "src_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            (F.floor(F.avg(F.abs(F.col("za") - F.col("zb"))) * 10000) / 10000).alias(
                "burrows_delta"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Flesch readability scoring (round 9)
# ---------------------------------------------------------------------------
_READ_SENT_LEN = 15  # fixture convention: the corpus has no sentence
# punctuation (word-salad synthetic text), so a "sentence" is defined as a
# 15-token span — ceil(words / 15) — making the sentence-length term real
# while keeping the formula and syllable machinery exactly Flesch's.


@register(
    "text_readability",
    oracle=f"""
    WITH per AS (
      SELECT lang,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS BIGINT) AS n_words,
             CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(
                      list_filter(string_split(text, ' '), x -> x <> ''),
                      w -> CAST(greatest(1,
                             len(regexp_extract_all(w, '[aeiouy]+'))) AS BIGINT))),
                  (a, b) -> a + b) AS BIGINT) AS n_syll
      FROM documents
    ),
    docs AS (
      SELECT lang, n_words, n_syll,
             greatest(1, (n_words + {_READ_SENT_LEN} - 1) // {_READ_SENT_LEN})
               AS n_sent
      FROM per
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS words,
           CAST(SUM(n_syll) AS BIGINT) AS syllables,
           CAST(SUM(n_sent) AS BIGINT) AS sentences,
           ROUND(206.835
                 - 1.015 * (CAST(SUM(n_words) AS DOUBLE) / SUM(n_sent))
                 - 84.6 * (CAST(SUM(n_syll) AS DOUBLE) / SUM(n_words)), 4)
             AS flesch_ease,
           ROUND(0.39 * (CAST(SUM(n_words) AS DOUBLE) / SUM(n_sent))
                 + 11.8 * (CAST(SUM(n_syll) AS DOUBLE) / SUM(n_words))
                 - 15.59, 4) AS fk_grade
    FROM docs GROUP BY lang
    """,
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch Reading Ease and Flesch-Kincaid grade level per language
    slice — the corpus-quality readability screen every training-data
    pipeline runs next to `text_quality_score` (readability gates are a
    standard C4/FineWeb-style filter dimension). Syllables use the
    classic vowel-group heuristic (runs of [aeiouy], minimum 1 per word)
    computed by an in-row regexp over the token array; the fixture
    corpus has no sentence punctuation, so a sentence is DEFINED as a
    {_READ_SENT_LEN}-token span (ceil(words/{_READ_SENT_LEN}) — the
    constructed-fixture convention `ml_auc_roc` documents), keeping both
    formula terms live.

    Word / syllable / sentence counts are exact integers aggregated with
    one mergeable groupBy; the two formulas divide identical integer
    sums in both engines, ROUND(4) display-only.

    Scale: one documents scan, all token work in-row lambdas (no
    explode shuffle — the doc_winnowing discipline), output O(langs)."""
    d = load(spark, sf_dir, "documents")
    words = F.filter(F.split("text", " "), lambda x: x != F.lit(""))
    n_words = F.size(words).cast("long")
    n_syll = F.aggregate(
        F.transform(
            words,
            lambda w: F.greatest(
                F.lit(1), F.size(F.regexp_extract_all(w, F.lit("[aeiouy]+"), F.lit(0)))
            ).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    per = d.select("lang", n_words.alias("n_words"), n_syll.alias("n_syll"))
    docs = per.withColumn(
        "n_sent",
        F.greatest(
            F.lit(1).cast("long"),
            F.expr(f"(n_words + {_READ_SENT_LEN} - 1) div {_READ_SENT_LEN}"),
        ),
    )
    wps = F.sum("n_words").cast("double") / F.sum("n_sent")
    spw = F.sum("n_syll").cast("double") / F.sum("n_words")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("words"),
        F.sum("n_syll").cast("long").alias("syllables"),
        F.sum("n_sent").cast("long").alias("sentences"),
        F.round(206.835 - 1.015 * wps - 84.6 * spw, 4).alias("flesch_ease"),
        F.round(0.39 * wps + 11.8 * spw - 15.59, 4).alias("fk_grade"),
    )


# ---------------------------------------------------------------------------
# Dedup savings / cluster-size metrology (round 9)
# ---------------------------------------------------------------------------


@register(
    "text_dedup_cluster_stats",
    oracle="""
    WITH cl AS (
      SELECT lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm,
             CAST(COUNT(*) AS BIGINT) AS sz,
             CAST(SUM(n_chars) AS BIGINT) AS bytes_total,
             CAST(MIN(n_chars) AS BIGINT) AS bytes_kept
      FROM documents GROUP BY 1
    )
    SELECT sz AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(sz) AS BIGINT) AS n_docs,
           CAST(SUM(bytes_total - bytes_kept) AS BIGINT) AS bytes_saved,
           ROUND(SUM(bytes_total - bytes_kept) * 1.0
                 / SUM(SUM(bytes_total)) OVER (), 6) AS savings_share
    FROM cl GROUP BY sz
    """,
)
def text_dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup metrology BEFORE running the dedup: the exact-duplicate
    cluster-size distribution and the byte savings each size class buys
    (keep the min-length representative per cluster — same normalization
    as `dedup_exact_text`). The curation-planning query: singleton share
    says whether dedup is worth a pass at all, and the savings histogram
    says whether near-dup machinery (`dedup_near_minhash`) should follow
    the exact pass — this is how the pipeline's stages get budgeted.

    Scale: one hash-groupBy on the normalized text (at 100 TB: on
    ``sha2(norm)`` — see dedup_exact_text), then O(distinct sizes) rows
    through the histogram and the single-row total; integer byte math
    end-to-end except the final ROUND(6) share."""
    d = load(spark, sf_dir, "documents")
    cl = (
        d.select(_norm_text(F.col("text")).alias("norm"), "n_chars")
        .groupBy("norm")
        .agg(
            F.count(F.lit(1)).cast("long").alias("sz"),
            F.sum("n_chars").cast("long").alias("bytes_total"),
            F.min("n_chars").cast("long").alias("bytes_kept"),
        )
    )
    hist = cl.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum("sz").cast("long").alias("n_docs"),
        F.sum(F.col("bytes_total") - F.col("bytes_kept")).cast("long").alias("bytes_saved"),
        F.sum("bytes_total").alias("_bt"),
    )
    tot = hist.agg(F.sum("_bt").alias("bt_all"))
    return hist.crossJoin(F.broadcast(tot)).select(
        "cluster_size",
        "n_clusters",
        "n_docs",
        "bytes_saved",
        F.round(F.col("bytes_saved") * 1.0 / F.col("bt_all"), 6).alias("savings_share"),
    )


# ---------------------------------------------------------------------------
# ROUGE-L between neighboring docs (round 9)
# ---------------------------------------------------------------------------
_RL_TOK = 30  # token cap per side (bounds the LCS DP at 30x30)


@register(
    "text_rouge_l",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source,
             string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))),
                          ' ')[1:{_RL_TOK}] AS t
      FROM documents
    ),
    pairs AS (
      SELECT doc_id, source, t,
             LEAD(doc_id) OVER w AS nxt_id,
             LEAD(t) OVER w AS t2
      FROM toks
      WINDOW w AS (PARTITION BY source ORDER BY doc_id)
    ),
    dp AS (
      SELECT doc_id, nxt_id, source,
             CAST(len(t) AS BIGINT) AS len_a, CAST(len(t2) AS BIGINT) AS len_b,
             list_reduce(
               list_prepend(
                 list_transform(generate_series(0, len(t2)), j -> 0),
                 list_transform(generate_series(1, len(t)), i -> [i])
               ),
               (prev, ib) -> list_reduce(
                 list_prepend([0],
                   list_transform(generate_series(1, len(t2)), j -> [j])),
                 (rowacc, jb) -> list_append(rowacc,
                    CASE WHEN t[ib[1]] = t2[jb[1]]
                         THEN prev[jb[1]] + 1
                         ELSE greatest(prev[jb[1] + 1], rowacc[jb[1]]) END)
               )
             )[len(t2) + 1] AS lcs
      FROM pairs WHERE nxt_id IS NOT NULL AND len(t) > 0 AND len(t2) > 0
    )
    SELECT doc_id, nxt_id, source, len_a, len_b,
           CAST(lcs AS BIGINT) AS lcs,
           ROUND(CASE WHEN lcs = 0 THEN 0.0
                      ELSE 2.0 * (lcs * 1.0 / len_b) * (lcs * 1.0 / len_a)
                           / ((lcs * 1.0 / len_b) + (lcs * 1.0 / len_a)) END, 6)
             AS rouge_l_f
    FROM dp
    """,
)
def text_rouge_l(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-L (longest-common-subsequence F-measure, Lin 2004) between
    each document and its doc-id successor within the same source — the
    summarization/near-dup similarity that n-gram Jaccard misses when
    tokens match in ORDER but not contiguously. Token streams cap at
    {_RL_TOK} per side, bounding the LCS work at {_RL_TOK}x{_RL_TOK} per
    pair; the LCS length is computed bit-parallel (Allison & Dix 1986:
    the DP column lives in one long, see the inline comment) — an exact
    integer, so the oracle's textbook array DP provably agrees (an LCS
    length is algorithm-independent; no float concerns on either side).

    Scale: pairing is one LEAD window per source (no self-join); the LCS
    is in-row compute, embarrassingly parallel, O({_RL_TOK}²) integer ops
    and ZERO allocations per pair. At 100 TB the same shape scores ANY
    candidate pair list — swap the window pairing for the LSH candidate
    join."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "source",
        F.slice(F.split(_norm_text(F.col("text")), " "), 1, _RL_TOK).alias("t"),
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    pairs = toks.select(
        "doc_id",
        "source",
        "t",
        F.lead("doc_id").over(w).alias("nxt_id"),
        F.lead("t").over(w).alias("t2"),
    ).filter(F.col("nxt_id").isNotNull() & (F.size("t") > 0) & (F.size("t2") > 0))

    # Bit-parallel LCS (Allison & Dix 1986), r14 optimization round: with
    # the token cap at {_RL_TOK} <= 62 the whole DP column fits ONE long,
    # so the classic row-DP (an array-accumulator fold whose every cell
    # CONCATs a fresh 30-element array — O(n^3) copying in the Catalyst
    # higher-order-function interpreter; measured 8.7-8.9 s at sf0.1)
    # becomes a long-accumulator fold with zero allocations: per t2 token
    # build the match mask M over t's positions, then
    # V' = ((V + (V & M)) | (V & ~M)) & mask, LCS = |t| - bit_count(V).
    # The LCS length is an integer uniquely determined by the inputs, so
    # algorithm choice cannot change the result — equivalence to the
    # oracle's textbook DP is property-tested over random token streams
    # in tests/test_r14_opts.py and pinned by the 3-SF oracle gate.
    # pyspark's shiftleft() only takes a Python-int count, so the
    # column-count shifts 1<<k are spelled pow(2, k) — double-exact for
    # every k <= _RL_TOK <= 52.
    def bit(k):
        return F.pow(F.lit(2.0), k.cast("double")).cast("long")

    m_bits = bit(F.size("t")) - 1

    def step(V, c):
        M = F.aggregate(
            F.sequence(F.lit(1), F.size("t")),
            F.lit(0).cast("long"),
            lambda acc, i: acc.bitwiseOR(
                F.when(
                    F.element_at(F.col("t"), i) == c,
                    bit(i - 1),
                ).otherwise(F.lit(0).cast("long"))
            ),
        )
        u = V.bitwiseAND(M)
        return ((V + u).bitwiseOR(V.bitwiseAND(F.bitwise_not(M)))).bitwiseAND(
            m_bits
        )

    lcs = F.size("t") - F.bit_count(F.aggregate(F.col("t2"), m_bits, step))
    scored = pairs.select(
        "doc_id",
        "nxt_id",
        "source",
        F.size("t").cast("long").alias("len_a"),
        F.size("t2").cast("long").alias("len_b"),
        lcs.cast("long").alias("lcs"),
    )
    p, r = F.col("lcs") / F.col("len_b"), F.col("lcs") / F.col("len_a")
    return scored.withColumn(
        "rouge_l_f",
        F.round(
            F.when(F.col("lcs") == 0, F.lit(0.0)).otherwise(2.0 * p * r / (p + r)), 6
        ),
    )


# ---------------------------------------------------------------------------
# Held-out n-gram novelty (round 9)
# ---------------------------------------------------------------------------
_NV_MOD = 5  # md5(doc_id) % 5 == 4 -> held-out test split


@register(
    "text_ngram_novelty",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                  AS BIGINT) % {_NV_MOD} = {_NV_MOD - 1} AS is_test,
             string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))),
                          ' ') AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id, source, is_test, unnest(
               list_transform(generate_series(1, len(t) - 2),
                              i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])
             ) AS g
      FROM toks WHERE len(t) >= 3
    ),
    train AS (SELECT DISTINCT g FROM grams WHERE NOT is_test),
    test AS (
      SELECT g.source, g.g, tr.g IS NULL AS novel
      FROM grams g LEFT JOIN train tr ON tr.g = g.g
      WHERE g.is_test
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_test_grams,
           CAST(SUM(CASE WHEN novel THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           ROUND(SUM(CASE WHEN novel THEN 1.0 ELSE 0.0 END) / COUNT(*), 6)
             AS novelty_rate
    FROM test GROUP BY source
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out trigram novelty per source: split the corpus by doc-id
    hash ({_NV_MOD - 1}:1 train:test), and measure what fraction of the
    test split's word trigrams never occur in training — the
    generalization-gap / memorization screen (novelty ≈ 0 means the
    held-out data is effectively IN the training set: the contamination
    signal `contamination_ngram` checks against an external benchmark,
    measured here INSIDE the corpus), and the denominator for
    extrapolating how fast new data stops adding new n-grams
    (`text_heaps_law`'s incremental form).

    Scale: trigram explode collapses map-side to the DISTINCT train
    vocabulary (bounded by corpus novelty, not token count); the test
    probe is one LEFT join on the gram string — at 100 TB, hash the gram
    to a 64-bit key so shuffle rows stay narrow. Token stream count per
    row is len−2 in BOTH engines (identical windowing)."""
    d = load(spark, sf_dir, "documents")
    is_test = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % _NV_MOD
        == _NV_MOD - 1
    )
    toks = d.select(
        "doc_id",
        "source",
        is_test.alias("is_test"),
        F.split(_norm_text(F.col("text")), " ").alias("t"),
    ).filter(F.size("t") >= 3)
    grams = toks.select(
        "source",
        "is_test",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 2),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(F.col("t"), i),
                    F.element_at(F.col("t"), i + 1),
                    F.element_at(F.col("t"), i + 2),
                ),
            )
        ).alias("g"),
    )
    train = grams.filter(~F.col("is_test")).select("g").distinct()
    test = grams.filter(F.col("is_test")).join(
        train.withColumnRenamed("g", "tg"), F.col("tg") == F.col("g"), "left"
    )
    return test.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_test_grams"),
        F.sum(F.when(F.col("tg").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_novel"),
        F.round(
            F.sum(F.when(F.col("tg").isNull(), 1.0).otherwise(0.0))
            / F.count(F.lit(1)),
            6,
        ).alias("novelty_rate"),
    )


# ---------------------------------------------------------------------------
# Cross-document repeated-chunk ("line dedup") boilerplate stats (round 10)
# ---------------------------------------------------------------------------
_LD_CHUNK = 4  # tokens per chunk (fixture text has no newlines; real corpora
#                split on \n — the CCNet/RefinedWeb line-dedup granularity)
_LD_BOILER_DF = 5  # a chunk in >= this many distinct docs is boilerplate


@register(
    "text_line_dedup",
    oracle=f"""
    WITH chunks AS (
      SELECT doc_id, source,
             array_to_string(
               list_slice(string_split(text, ' '),
                          i * {_LD_CHUNK} + 1, i * {_LD_CHUNK} + {_LD_CHUNK}),
               ' ') AS chunk
      FROM documents,
           UNNEST(range(CAST(ceil(len(string_split(text, ' ')) / {_LD_CHUNK}.0)
                             AS BIGINT))) AS t(i)
    ),
    df AS (
      SELECT chunk, COUNT(DISTINCT doc_id) AS ndocs FROM chunks GROUP BY chunk
    )
    SELECT c.source,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN d.ndocs >= {_LD_BOILER_DF} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_boiler_chunks,
           ROUND(SUM(CASE WHEN d.ndocs >= {_LD_BOILER_DF} THEN 1.0 ELSE 0.0 END)
                 / COUNT(*), 6) AS boiler_share,
           CAST(COUNT(DISTINCT CASE WHEN d.ndocs >= {_LD_BOILER_DF}
                                    THEN c.doc_id END) AS BIGINT)
             AS n_docs_affected
    FROM chunks c JOIN df d USING (chunk)
    GROUP BY c.source
    """,
)
def text_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-chunk removal stats — the "line dedup" pass
    every web-corpus pipeline runs before document-level dedup (CCNet
    drops lines repeated across pages: headers, nav bars, cookie
    banners). Fixture text has no newlines, so a "line" is a fixed
    {_LD_CHUNK}-token chunk; a chunk appearing in >= {_LD_BOILER_DF}
    distinct docs is boilerplate. Reports, per source: chunk volume,
    boilerplate share, and how many documents carry any boilerplate —
    the numbers a curation run uses to decide whether a source needs the
    expensive line-level rewrite.

    Plan: chunking is PER-ROW (split -> transform(sequence) -> slice ->
    explode — no shuffle to build chunks); chunk document-frequency is one
    hash groupBy; the stats join is chunk-key partial-agged on both sides.
    At 100 TB the chunk-df table is the working set and it is bounded by
    distinct-chunk count, not corpus size — the same contraction as
    `bpe_train_merges`' word table. No windows, no sort, no driver state.
    """
    d = load(spark, sf_dir, "documents")
    # token array staged as a real column so the chunk lambda doesn't
    # re-split the text per chunk (see _doc_shingle_arrays, r14)
    toks = F.col("_tk")
    nchunks = F.ceil(F.size(toks) / F.lit(float(_LD_CHUNK))).cast("int")
    chunks = d.select(
        "doc_id", "source", F.split("text", " ").alias("_tk")
    ).select(
        "doc_id",
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), nchunks - 1),
                lambda i: F.array_join(
                    F.slice(toks, i * _LD_CHUNK + 1, _LD_CHUNK), " "
                ),
            )
        ).alias("chunk"),
    )
    df_ = chunks.groupBy("chunk").agg(
        F.countDistinct("doc_id").alias("ndocs")
    )
    boiler = F.col("ndocs") >= _LD_BOILER_DF
    return (
        chunks.join(df_, "chunk")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum(F.when(boiler, 1).otherwise(0)).cast("long").alias(
                "n_boiler_chunks"
            ),
            F.round(
                F.sum(F.when(boiler, 1.0).otherwise(0.0)) / F.count(F.lit(1)), 6
            ).alias("boiler_share"),
            F.countDistinct(F.when(boiler, F.col("doc_id"))).cast("long").alias(
                "n_docs_affected"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Prefix-duplicate (truncation artifact) detection (round 10)
# ---------------------------------------------------------------------------
_PFX_TOKENS = 8  # shared-prefix length that flags a truncation family


@register(
    "dedup_prefix_truncation",
    oracle=f"""
    WITH p AS (
      SELECT doc_id, n_chars,
             array_to_string(list_slice(string_split(text, ' '), 1, {_PFX_TOKENS}),
                             ' ') AS pfx,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ),
    g AS (
      SELECT pfx,
             COUNT(*) AS n_docs,
             MIN(n_tokens) AS min_tokens,
             MAX(n_tokens) AS max_tokens,
             MIN(CASE WHEN rk = 1 THEN doc_id END) AS keep_doc_id
      FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY pfx
                                     ORDER BY n_tokens DESC, doc_id) AS rk
        FROM p
      )
      GROUP BY pfx
      HAVING COUNT(*) > 1
    )
    SELECT md5(pfx) AS prefix_hash, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(min_tokens AS BIGINT) AS min_tokens,
           CAST(max_tokens AS BIGINT) AS max_tokens,
           keep_doc_id
    FROM g
    """,
)
def dedup_prefix_truncation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-duplicate detection — the truncation-artifact case exact
    dedup misses: crawls and re-scrapes of the same page often differ
    only in WHERE they were cut off, so the docs share a long prefix but
    hash differently. Groups documents by their first {_PFX_TOKENS}
    tokens and reports every family with more than one member, electing
    the LONGEST doc (ties -> smallest doc_id) as the keeper — the
    opposite survivorship rule from `dedup_keep_longest`'s exact-hash
    groups, because under truncation the longest variant is the most
    complete, not merely a tie-break.

    Plan: prefix key is per-row (split + slice, no explode); one hash
    groupBy on the md5'd prefix with a single WindowGroupLimit electing
    the keeper inside each group. Group count is bounded by distinct
    prefixes — at 100 TB this is orders of magnitude below doc count
    (that asymmetry is why prefix blocking is the standard first pass
    before expensive near-dup verification)."""
    d = load(spark, sf_dir, "documents")
    p = d.select(
        "doc_id",
        F.array_join(F.slice(F.split("text", " "), 1, _PFX_TOKENS), " ").alias(
            "pfx"
        ),
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    w = Window.partitionBy("pfx").orderBy(F.col("n_tokens").desc(), "doc_id")
    ranked = p.select("*", F.row_number().over(w).alias("rk"))
    return (
        ranked.groupBy("pfx")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("n_tokens").cast("long").alias("min_tokens"),
            F.max("n_tokens").cast("long").alias("max_tokens"),
            F.min(F.when(F.col("rk") == 1, F.col("doc_id"))).alias("keep_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
        .select(
            F.md5("pfx").alias("prefix_hash"),
            "n_docs",
            "min_tokens",
            "max_tokens",
            "keep_doc_id",
        )
    )


# ---------------------------------------------------------------------------
# Hapax legomena share (round 10)
# ---------------------------------------------------------------------------


@register(
    "text_hapax_ratio",
    oracle="""
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (
      SELECT source, term, COUNT(*) AS c FROM toks GROUP BY source, term
    )
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS vocab,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
           ROUND(SUM(CASE WHEN c = 1 THEN 1.0 ELSE 0.0 END) / COUNT(*), 6)
             AS hapax_ratio
    FROM tf GROUP BY source
    """,
)
def text_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax legomena share per source — the fraction of a source's
    vocabulary that occurs exactly once. The fastest single indicator of
    lexical tail weight: natural text sits near 0.4-0.6 (Zipf tail),
    template/boilerplate output collapses toward 0, OCR noise or
    tokenizer breakage inflates toward 1. Complements `text_zipf` (slope
    of the whole curve) and `text_heaps_law` (vocab growth) with the
    single number a curation dashboard thresholds on.

    Plan: explode -> (source, term) hash groupBy with map-side combine ->
    O(vocab) rollup per source. The shuffle carries the per-source
    vocabulary, not the token stream — the standard contraction every
    text statistic here rides."""
    d = load(spark, sf_dir, "documents")
    tf = (
        d.select("source", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return tf.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long").alias("hapax"),
        F.round(
            F.sum(F.when(F.col("c") == 1, 1.0).otherwise(0.0)) / F.count(F.lit(1)),
            6,
        ).alias("hapax_ratio"),
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility by language (round 10)
# ---------------------------------------------------------------------------


@register(
    "text_tokenizer_fertility",
    oracle="""
    WITH per AS (
      SELECT lang,
             CAST(len(string_split(text, ' ')) AS DOUBLE) AS words,
             CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
                  AS DOUBLE) AS subwords,
             CAST(strlen(text) AS DOUBLE) AS bytes
      FROM documents
    )
    SELECT lang,
           CAST(SUM(words) AS BIGINT) AS n_words,
           CAST(SUM(subwords) AS BIGINT) AS n_subwords,
           ROUND(SUM(subwords) / SUM(words), 6) AS fertility,
           ROUND(SUM(bytes) / SUM(subwords), 6) AS bytes_per_token
    FROM per GROUP BY lang
    """,
)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: subword tokens per whitespace
    word (and bytes per token) under the BPE-ish regex segmentation
    shared with `text_token_count_bpeish`. Fertility is the standard
    tokenizer-equity metric in multilingual corpus reports (a tokenizer
    trained on English fragments other scripts into far more tokens per
    word, inflating their effective training cost and context usage);
    bytes/token is the compression-rate companion. Pipelines threshold on
    these before committing a tokenizer to a data mix.

    Plan: both token counts are per-row regexp/split size expressions
    inside codegen — no explode, no per-token rows — followed by one
    O(langs) partial-aggregating groupBy. The cheapest possible shape:
    a 100 TB corpus pays exactly one scan."""
    d = load(spark, sf_dir, "documents")
    words = F.size(F.split("text", " ")).cast("double")
    subwords = F.size(
        F.regexp_extract_all("text", F.lit(r"[a-z]+|[0-9]+|[^a-z0-9 ]"), 0)
    ).cast("double")
    per = d.select(
        "lang",
        words.alias("words"),
        subwords.alias("subwords"),
        # octet_length (BYTES) to match the oracle's strlen — F.length counts
        # CHARACTERS and agrees only on pure-ASCII fixtures (r10 advice);
        # bytes is also the semantically right unit for bytes_per_token.
        F.octet_length("text").cast("double").alias("bytes"),
    )
    return per.groupBy("lang").agg(
        F.sum("words").cast("long").alias("n_words"),
        F.sum("subwords").cast("long").alias("n_subwords"),
        F.round(F.sum("subwords") / F.sum("words"), 6).alias("fertility"),
        F.round(F.sum("bytes") / F.sum("subwords"), 6).alias("bytes_per_token"),
    )


# ---------------------------------------------------------------------------
# Moving-average type-token ratio (round 10)
# ---------------------------------------------------------------------------
_MATTR_W = 10  # MATTR window length in tokens


@register(
    "text_mattr_diversity",
    oracle=f"""
    WITH per AS (
      SELECT doc_id, source, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n
      FROM documents
    ),
    w AS (
      SELECT doc_id, source,
             CASE WHEN n <= {_MATTR_W}
                  THEN len(list_distinct(toks)) * 1.0 / n
                  ELSE list_avg(list_transform(range(n - {_MATTR_W} + 1),
                         i -> len(list_distinct(
                                list_slice(toks, i + 1, i + {_MATTR_W})))
                              * 1.0 / {_MATTR_W}))
             END AS mattr
      FROM per
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(mattr), 6) AS mean_mattr,
           ROUND(MIN(mattr), 6) AS min_mattr
    FROM w GROUP BY source
    """,
)
def text_mattr_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving-Average Type-Token Ratio (Covington & McFall 2010) per
    source: mean over all {_MATTR_W}-token windows of (distinct tokens /
    window length), averaged per document then per source — the
    length-invariant lexical-diversity measure (plain TTR shrinks with
    document length, which is why corpus reports use MATTR); documents
    shorter than the window fall back to their plain TTR. Complements
    `text_hapax_ratio` (corpus-tail weight) and `text_repetition`
    (worst-case loops) with WITHIN-document diversity: template output
    scores low even when the corpus vocabulary looks healthy.

    Plan: the whole computation is per-row inside codegen — the window
    sweep is transform(range) -> slice -> array_distinct over the in-row
    token array, O(n_tokens x window) scalar work with no explode and no
    shuffle; the only exchange is the final per-source rollup. At 100 TB
    the corpus pays exactly one scan."""
    d = load(spark, sf_dir, "documents")
    # token array staged as a real column so the window sweep doesn't
    # re-split the text per window (see _doc_shingle_arrays, r14)
    toks = F.col("_tk")
    n = F.size(toks)
    win_ttr = F.transform(
        F.sequence(F.lit(0), n - _MATTR_W),
        lambda i: F.size(F.array_distinct(F.slice(toks, i + 1, _MATTR_W)))
        / float(_MATTR_W),
    )
    mattr = F.when(
        n <= _MATTR_W, F.size(F.array_distinct(toks)) / n.cast("double")
    ).otherwise(
        F.aggregate(win_ttr, F.lit(0.0), lambda a, x: a + x) / F.size(win_ttr)
    )
    return (
        d.select("source", F.split("text", " ").alias("_tk"))
        .select("source", mattr.alias("mattr"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(F.avg("mattr"), 6).alias("mean_mattr"),
            F.round(F.min("mattr"), 6).alias("min_mattr"),
        )
    )


# ---------------------------------------------------------------------------
# Yule's K / Simpson's D vocabulary concentration (round 11)
# ---------------------------------------------------------------------------


@register(
    "text_yule_k",
    oracle="""
    WITH tf AS (
      SELECT source, tok, CAST(COUNT(*) AS DOUBLE) AS c
      FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
            FROM documents)
      GROUP BY source, tok
    )
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS vocab,
           ROUND(10000.0 * (SUM(c * c) - SUM(c)) / (SUM(c) * SUM(c)), 6)
             AS yule_k,
           ROUND(SUM(c * (c - 1.0)) / (SUM(c) * (SUM(c) - 1.0)), 6)
             AS simpson_d
    FROM tf GROUP BY source
    """,
)
def text_yule_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yule's characteristic K and Simpson's D per source — the classic
    vocabulary-concentration statistics (Yule 1944; the authorship /
    text-degeneracy metrology behind `text_burrows_delta`): K =
    10^4 * (sum(c^2) - N) / N^2 over the token-frequency spectrum, and D =
    sum(c(c-1)) / (N(N-1)) is the probability two random tokens coincide.
    High K/D flags template-generated or keyword-stuffed sources whose
    token mass concentrates on few types — a corpus-level complement to
    the per-document `text_repetition` flags and the within-document
    `text_mattr_diversity` window sweep.

    Plan: one explode -> partial-aggregating groupBy(source, token) (the
    shared tf contraction), then an O(vocab)-row rollup per source. Both
    statistics are plain moments of the frequency spectrum, so the 100 TB
    cost is exactly one corpus scan plus a vocabulary-sized shuffle."""
    d = load(spark, sf_dir, "documents")
    tf = (
        d.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    n = F.sum("c")
    return tf.groupBy("source").agg(
        n.cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.round(10000.0 * (F.sum(F.col("c") * F.col("c")) - n) / (n * n), 6).alias(
            "yule_k"
        ),
        F.round(
            F.sum(F.col("c") * (F.col("c") - 1.0)) / (n * (n - 1.0)), 6
        ).alias("simpson_d"),
    )


# ---------------------------------------------------------------------------
# Code-vs-prose detection signals (round 11)
# ---------------------------------------------------------------------------


@register(
    "text_code_detect",
    oracle="""
    WITH s AS (
      SELECT doc_id, text,
             CAST(length(text) AS DOUBLE) AS nc,
             string_split(text, ' ') AS l
      FROM documents
    )
    SELECT doc_id,
           CAST(nc AS BIGINT) AS n_chars,
           ROUND(len(regexp_extract_all(text, '[{}();=<>]')) / nc, 6)
             AS sym_ratio,
           ROUND(len(regexp_extract_all(text, '[0-9]')) / nc, 6)
             AS digit_ratio,
           ROUND(CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(l), 6)
             AS avg_token_len,
           ROUND(len(list_filter(l, x -> contains(x, '_')
                                      OR regexp_matches(x, '[a-z][A-Z]')))
                 * 1.0 / len(l), 6) AS ident_share,
           (len(regexp_extract_all(text, '[{}();=<>]')) / nc > 0.03
            OR len(list_filter(l, x -> contains(x, '_')
                                    OR regexp_matches(x, '[a-z][A-Z]')))
               * 1.0 / len(l) > 0.10) AS is_code
    FROM s
    """,
)
def text_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose detection signals per document: structural-symbol
    density ({};()=<> per char), digit density, mean token length, and
    identifier share (tokens containing '_' or a camelCase case flip) —
    the cheap first-stage router every mixed web crawl runs before
    sending text down prose-quality (C4/Gopher) vs code-quality
    (StarCoder-style) filter stacks; misrouted code wrecks prose
    perplexity filters and vice versa. The fixture corpus is pure prose,
    so is_code is a TRUE-NULL flag here (all false) — the operator
    certifies the router does not fire on prose, the same convention as
    `events_granger`'s null family.

    Plan: every signal is a per-row regexp/array expression inside
    codegen — no explode, no shuffle, no Python; a 100 TB corpus pays one
    scan. Thresholds (3% symbols, 10% identifiers) follow the StarCoder
    data-pipeline spirit; exact values are fixture-pinned."""
    d = load(spark, sf_dir, "documents")
    n_chars = F.length("text").cast("double")
    toks = F.split("text", " ")
    n_toks = F.size(toks)
    sym = F.regexp_count("text", F.lit(r"[{}();=<>]")).cast("double")
    dig = F.regexp_count("text", F.lit("[0-9]")).cast("double")
    ident = F.size(
        F.filter(
            toks,
            lambda x: x.contains("_") | x.rlike("[a-z][A-Z]"),
        )
    ).cast("double")
    avg_tok = F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast(
        "double"
    ) / n_toks
    return d.select(
        "doc_id",
        n_chars.cast("long").alias("n_chars"),
        F.round(sym / n_chars, 6).alias("sym_ratio"),
        F.round(dig / n_chars, 6).alias("digit_ratio"),
        F.round(avg_tok, 6).alias("avg_token_len"),
        F.round(ident / n_toks, 6).alias("ident_share"),
        ((sym / n_chars > 0.03) | (ident / n_toks > 0.10)).alias("is_code"),
    )


# ---------------------------------------------------------------------------
# Chi-square feature selection: class-discriminative terms (round 11)
# ---------------------------------------------------------------------------
_CHI2_TOPK = 3  # terms reported per class
_CHI2_MIN_DF = 20  # minimum corpus document frequency for a candidate term


@register(
    "ml_chi2_feature_select",
    oracle=f"""
    WITH pres AS (
      SELECT DISTINCT lang, doc_id, tok
      FROM (SELECT lang, doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents)
    ),
    tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
    per_lang AS (
      SELECT lang, CAST(COUNT(*) AS DOUBLE) AS nl FROM documents GROUP BY lang
    ),
    a_tab AS (
      SELECT lang, tok, CAST(COUNT(*) AS DOUBLE) AS a FROM pres
      GROUP BY lang, tok
    ),
    t_tab AS (SELECT tok, SUM(a) AS t FROM a_tab GROUP BY tok),
    chi AS (
      SELECT a_tab.lang, a_tab.tok, a_tab.a, t_tab.t, per_lang.nl, tot.n,
             (t_tab.t - a_tab.a) AS b,
             (per_lang.nl - a_tab.a) AS c,
             (tot.n - per_lang.nl - (t_tab.t - a_tab.a)) AS d
      FROM a_tab JOIN t_tab USING (tok)
      JOIN per_lang USING (lang) CROSS JOIN tot
      WHERE t_tab.t >= {_CHI2_MIN_DF} AND t_tab.t < tot.n
    ),
    scored AS (
      SELECT lang, tok,
             ROUND(n * (a * d - b * c) * (a * d - b * c)
                   / ((a + b) * (c + d) * (a + c) * (b + d)), 6) AS chi2,
             CAST(a AS BIGINT) AS df_in_class
      FROM chi
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                                   ORDER BY chi2 DESC, tok) AS rk
      FROM scored
    )
    SELECT lang, tok, chi2, df_in_class, CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= {_CHI2_TOPK}
    """,
)
def ml_chi2_feature_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square feature selection: the top-{_CHI2_TOPK} most
    class-discriminative terms per language by the 2x2 presence/class
    chi-square statistic N(ad-bc)^2 / ((a+b)(c+d)(a+c)(b+d)) — the
    classic supervised term-selection step (Yang & Pedersen 1997) that
    feeds classifier vocabularies and drift dashboards; distinct from
    `agg_chisq` (a single global independence test) in that it RANKS the
    feature vocabulary per class. Candidate terms need corpus document
    frequency >= {_CHI2_MIN_DF} (and < N) so the 2x2 margins are
    non-degenerate.

    Plan: per-doc term presence is array_distinct in-row before the
    explode (no within-doc duplicate rows ever leave the scan), the
    (term, lang) contingency cells come from one partial-aggregating
    groupBy, the term margin is a window sum over the same contracted
    frame, and the class margins (O(langs)) plus the 1-row corpus total
    broadcast. The only shuffles carry the presence vocabulary, never
    the corpus; final top-k is a per-class WindowGroupLimit."""
    d = load(spark, sf_dir, "documents")
    tot = d.agg(F.count(F.lit(1)).cast("double").alias("n"))
    per_lang = d.groupBy("lang").agg(F.count(F.lit(1)).cast("double").alias("nl"))
    pres = d.select(
        "lang", F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    )
    a_tab = pres.groupBy("lang", "tok").agg(
        F.count(F.lit(1)).cast("double").alias("a")
    )
    a_tab = a_tab.withColumn(
        "t", F.sum("a").over(Window.partitionBy("tok"))
    )
    chi = (
        a_tab.join(F.broadcast(per_lang), "lang")
        .crossJoin(F.broadcast(tot))
        .filter((F.col("t") >= _CHI2_MIN_DF) & (F.col("t") < F.col("n")))
        .select(
            "lang",
            "tok",
            "a",
            (F.col("t") - F.col("a")).alias("b"),
            (F.col("nl") - F.col("a")).alias("c"),
            (F.col("n") - F.col("nl") - (F.col("t") - F.col("a"))).alias("d"),
            "n",
        )
    )
    num = F.col("n") * (F.col("a") * F.col("d") - F.col("b") * F.col("c")) ** 2
    den = (
        (F.col("a") + F.col("b"))
        * (F.col("c") + F.col("d"))
        * (F.col("a") + F.col("c"))
        * (F.col("b") + F.col("d"))
    )
    scored = chi.select(
        "lang",
        "tok",
        F.round(num / den, 6).alias("chi2"),
        F.col("a").cast("long").alias("df_in_class"),
    )
    w = Window.partitionBy("lang").orderBy(F.col("chi2").desc(), "tok")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _CHI2_TOPK)
        .select("lang", "tok", "chi2", "df_in_class", "rk")
    )


# ---------------------------------------------------------------------------
# Weighted MinHash (ICWS) near-duplicate detection (round 11)
# ---------------------------------------------------------------------------
_ICWS_K = 8  # independent ICWS samples per document
_ICWS_JW = 0.5  # exact weighted-Jaccard report threshold
_ICWS_BUCKET_CAP = 64  # max docs per (k, shingle, t) sample bucket


def _icws_u_sql(tok: str, k: str, salt: int) -> str:
    """md5-derived uniform in (0, 1): (h % 10^6 + 0.5) / 10^6 — never 0,
    so every ln() below is finite. Identical text in both engines."""
    return (
        f"(CAST(concat('0x', substr(md5({tok} || '#' || CAST({k} AS VARCHAR)"
        f" || '#{salt}'), 1, 15)) AS BIGINT) % 1000000 + 0.5) / 1000000.0"
    )


def _icws_u(tok, k, salt: int):
    return (
        _h64(F.concat_ws("#", tok, k.cast("string"), F.lit(str(salt))))
        % 1_000_000
        + 0.5
    ) / 1_000_000.0


def _icws_key_sql(tok: str, k: str) -> str:
    """The ICWS argmin key a = c / (y * e^r) for one (element, sample),
    ROUNDED at 9dp so last-ulp libm divergence cannot flip the argmin."""
    u1, u2 = _icws_u_sql(tok, k, 1), _icws_u_sql(tok, k, 2)
    u3, u4 = _icws_u_sql(tok, k, 3), _icws_u_sql(tok, k, 4)
    u5 = _icws_u_sql(tok, k, 5)
    r = f"(-LN({u1} * {u2}))"
    t = f"CAST(FLOOR(LN(w) / {r} + {u5}) AS BIGINT)"
    return (
        f"ROUND((-LN({u3} * {u4})) / EXP({r} * ({t} + 1.0 - {u5})), 9)"
    )


def _icws_t_sql(tok: str, k: str) -> str:
    u1, u2 = _icws_u_sql(tok, k, 1), _icws_u_sql(tok, k, 2)
    u5 = _icws_u_sql(tok, k, 5)
    return f"CAST(FLOOR(LN(w) / (-LN({u1} * {u2})) + {u5}) AS BIGINT)"


@register(
    "dedup_weighted_minhash",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS l FROM documents
    ),
    tf AS (
      SELECT doc_id, sh, CAST(COUNT(*) AS DOUBLE) AS w
      FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(l) - 1),
                      i -> l[i] || ' ' || l[i + 1] || ' ' || l[i + 2])) AS sh
        FROM toks WHERE len(l) >= 3
      ) GROUP BY doc_id, sh
    ),
    samp AS (
      SELECT doc_id, k, sh, t FROM (
        SELECT doc_id, g.k, sh,
               {{t_expr}} AS t,
               ROW_NUMBER() OVER (PARTITION BY doc_id, g.k
                                  ORDER BY {{key_expr}}, sh) AS rn
        FROM tf CROSS JOIN (SELECT unnest(generate_series(0, {_ICWS_K - 1}))
                            AS k) g
      ) r WHERE rn = 1
    ),
    hot AS (
      SELECT k, sh, t FROM samp GROUP BY k, sh, t
      HAVING COUNT(*) > {_ICWS_BUCKET_CAP}
    ),
    kept AS (
      SELECT s.* FROM samp s ANTI JOIN hot
        ON s.k = hot.k AND s.sh = hot.sh AND s.t = hot.t
    ),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS DOUBLE) AS matches
      FROM kept a JOIN kept b
        ON a.k = b.k AND a.sh = b.sh AND a.t = b.t AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    mass AS (SELECT doc_id, SUM(w) AS mass FROM tf GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, c.matches,
             SUM(LEAST(ta.w, tb.w)) AS smin
      FROM cand c
      JOIN tf ta ON ta.doc_id = c.doc_a
      JOIN tf tb ON tb.doc_id = c.doc_b AND tb.sh = ta.sh
      GROUP BY 1, 2, 3
    ),
    exact AS (
      -- sum(max) over the shingle UNION == mass_a + mass_b - sum(min)
      SELECT i.doc_a, i.doc_b, i.matches,
             i.smin / (ma.mass + mb.mass - i.smin) AS jw
      FROM inter i
      JOIN mass ma ON ma.doc_id = i.doc_a
      JOIN mass mb ON mb.doc_id = i.doc_b
    )
    SELECT doc_a, doc_b,
           ROUND(matches / {_ICWS_K}.0, 6) AS est_jw,
           ROUND(jw, 6) AS exact_jw
    FROM exact WHERE jw >= {_ICWS_JW}
    """.format(
        t_expr=_icws_t_sql("sh", "g.k"), key_expr=_icws_key_sql("sh", "g.k")
    ),
)
def dedup_weighted_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted MinHash near-duplicate detection via Improved Consistent
    Weighted Sampling (Ioffe 2010) over word 3-shingle multisets: each
    document draws {_ICWS_K} independent (shingle, t) samples whose
    cross-document collision probability EQUALS the weighted Jaccard
    sum min(tf)/sum max(tf) — the tf-aware upgrade of
    `dedup_near_minhash`, which hashes the DISTINCT shingle set and
    treats a 40-repeat boilerplate shingle like a hapax. Candidates
    share >= 1 sample, sample buckets above {_ICWS_BUCKET_CAP} docs are
    dropped before the pair join (the `_LSH_BUCKET_CAP` convention,
    mirrored in the oracle — boilerplate samples, not near-dup
    evidence; measured: UNIGRAM element sets make the buckets
    near-all-pairs on this corpus, 11.7M candidate pairs at sf0.1,
    which is why the element universe is shingles), and the exact
    weighted Jaccard verifies every candidate. Pairs at J_w >=
    {_ICWS_JW} report both the collision estimate and the exact value
    (estimator quality visible in the result, the `sim_ann_recall_eval`
    philosophy).

    Determinism: every ICWS draw is an md5-derived fixed-point uniform,
    the transforms (r = -ln(u1 u2), c = -ln(u3 u4), t = floor(ln w / r
    + beta), key a = c / (y e^r), y = e^(r (t - beta))) are identical
    arithmetic in both engines, and the per-(doc, sample) argmin
    compares the key ROUNDED at 9dp with a shingle tiebreak — last-ulp
    libm divergence cannot flip the winner (the ml_gaussian_mixture_em
    quantization convention).

    Scale: the corpus contracts to the (doc, shingle, tf) frame;
    sampling is a per-row expression over tf x {_ICWS_K} and the
    per-(doc, k) argmin partial-aggregates map-side; candidates come
    from a capped
    equi-join on sample buckets — never all-pairs — and the exact
    verify joins only candidate tf rows. The dedup_near_minhash cost
    envelope, with weights."""
    d = load(spark, sf_dir, "documents")
    l = F.split("text", " ")
    # Tokenize into a REAL column before the shingle transform (r14
    # optimization round): with the split() subtree captured inside the
    # higher-order lambda it re-split the full document text for every
    # element_at of every 3-gram (no CSE in the HOF interpreter); staged
    # as a column the array materializes once per row.
    tkc = F.col("tk")
    sh = F.explode(
        F.transform(
            F.sequence(F.lit(1), F.size(tkc) - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(tkc, i),
                F.element_at(tkc, i + 1),
                F.element_at(tkc, i + 2),
            ),
        )
    )
    # The contracted (doc, shingle, tf) frame feeds FOUR branches (the ICWS
    # sampling, both exact-verify sides, the mass aggregate) and the two
    # mass broadcasts are their own jobs — uncut, the shingle explode +
    # groupBy executed ~6x per invocation and the 5-md5 ICWS expression
    # twice (r14 optimization round; measured 12.8-71.9s cold at sf0.1).
    # One eager checkpoint each for tf and the (n_docs x K)-bounded sample
    # table makes every branch a leaf read: 12.8s -> ~3s. Checkpoint blocks
    # are freed below after the (tiny) result materializes — the
    # graph_pagerank discipline.
    tf = (
        d.filter(F.size(l) >= 3)
        .select("doc_id", l.alias("tk"))
        .select("doc_id", sh.alias("sh"))
        .groupBy("doc_id", "sh")
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
        .localCheckpoint(eager=True)
    )
    ks = spark.sql(f"SELECT explode(sequence(0, {_ICWS_K - 1})) AS k")
    # (r14 note: drawing the 5 md5 uniforms once per DISTINCT (sh, k) —
    # 27,213 shingles vs 260,388 tf rows at sf0.1 — was prototyped both
    # as a shuffle join (min 17.7 s) and a broadcast join (min 9.7 s):
    # both LOSE to the inline form (min 8.0 s) because the extra
    # draw-table job + join machinery outweighs the md5 savings at this
    # corpus/vocabulary ratio. Kept inline; re-evaluate if a profile ever
    # shows the hash draws dominating.)
    rows = tf.crossJoin(F.broadcast(ks))
    k, shc = F.col("k"), F.col("sh")
    r = -F.log(_icws_u(shc, k, 1) * _icws_u(shc, k, 2))
    c = -F.log(_icws_u(shc, k, 3) * _icws_u(shc, k, 4))
    beta = _icws_u(shc, k, 5)
    t = F.floor(F.log("w") / r + beta).cast("long")
    y_er = F.exp(r * (t + 1.0 - beta))  # y * e^r == e^(r (t + 1 - beta))
    a_key = F.round(c / y_er, 9)
    # Per-(doc, k) argmin as a partial-aggregable min(struct(a, sh, t))
    # instead of a row_number sort window (r14 optimization round): the
    # window shuffled and fully sorted all nnz x K sample rows; the
    # struct min combines map-side, so only ~n_docs x K partial rows per
    # partition cross the wire (guide §2). Lexicographic struct order ==
    # the window's (a ASC, sh ASC) order, and sh is unique within a
    # (doc, k) group, so the selected sample (and its carried t) is
    # identical row-for-row.
    samp = (
        rows.select("doc_id", "k", "sh", t.alias("t"), a_key.alias("a"))
        .groupBy("doc_id", "k")
        .agg(F.min(F.struct("a", "sh", "t")).alias("m"))
        .select("doc_id", "k", F.col("m.sh").alias("sh"), F.col("m.t").alias("t"))
        .localCheckpoint(eager=True)
    )
    hot = (
        samp.groupBy("k", "sh", "t")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > _ICWS_BUCKET_CAP)
        .select("k", "sh", "t")
    )
    kept = samp.join(F.broadcast(hot), ["k", "sh", "t"], "left_anti")
    sa, sb = kept.alias("sa"), kept.alias("sb")
    cand = (
        sa.join(
            sb,
            (F.col("sa.k") == F.col("sb.k"))
            & (F.col("sa.sh") == F.col("sb.sh"))
            & (F.col("sa.t") == F.col("sb.t"))
            & (F.col("sa.doc_id") < F.col("sb.doc_id")),
        )
        .groupBy(
            F.col("sa.doc_id").alias("doc_a"), F.col("sb.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).cast("double").alias("matches"))
    )
    ta = tf.select(F.col("doc_id").alias("doc_a"), "sh", F.col("w").alias("wa"))
    tb = tf.select(F.col("doc_id").alias("doc_b"), "sh", F.col("w").alias("wb"))
    # exact weighted Jaccard per candidate: sum(min)/sum(max) over the
    # UNION of the two shingle sets = (sum min) / (mass_a + mass_b - sum min)
    inter = (
        cand.join(ta, "doc_a")
        .join(tb, ["doc_b", "sh"])
        .groupBy("doc_a", "doc_b", "matches")
        .agg(F.sum(F.least("wa", "wb")).alias("smin"))
    )
    mass = tf.groupBy("doc_id").agg(F.sum("w").alias("mass"))
    exact = (
        inter.join(
            F.broadcast(
                mass.withColumnRenamed("doc_id", "doc_a").withColumnRenamed(
                    "mass", "ma"
                )
            ),
            "doc_a",
        )
        .join(
            F.broadcast(
                mass.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
                    "mass", "mb"
                )
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "matches",
            (F.col("smin") / (F.col("ma") + F.col("mb") - F.col("smin"))).alias(
                "jw"
            ),
        )
    )
    # Materialize the (near-dup pairs only, tiny) result eagerly so the tf
    # and samp checkpoint blocks can be freed before returning.
    result = (
        exact.filter(F.col("jw") >= _ICWS_JW)
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("matches") / float(_ICWS_K), 6).alias("est_jw"),
            F.round("jw", 6).alias("exact_jw"),
        )
        .localCheckpoint(eager=True)
    )
    for interim in (tf, samp):
        release(interim)
    return result


# ---------------------------------------------------------------------------
# Character-bigram entropy rate (round 11)
# ---------------------------------------------------------------------------


@register(
    "text_char_entropy_rate",
    oracle="""
    WITH big AS (
      SELECT source, substr(text, i, 1) AS c1, substr(text, i + 1, 1) AS c2
      FROM documents,
           (SELECT unnest(generate_series(1, 8192)) AS i) g
      WHERE i < length(text)
    ),
    cnt AS (
      SELECT source, c1, c2, CAST(COUNT(*) AS DOUBLE) AS n
      FROM big GROUP BY source, c1, c2
    ),
    tot AS (SELECT source, SUM(n) AS nn FROM cnt GROUP BY source),
    h2 AS (
      SELECT cnt.source,
             -SUM(cnt.n / tot.nn * LN(cnt.n / tot.nn)) AS h2
      FROM cnt JOIN tot USING (source) GROUP BY cnt.source
    ),
    m1 AS (
      SELECT source, c1, SUM(n) AS n FROM cnt GROUP BY source, c1
    ),
    h1 AS (
      SELECT m1.source,
             -SUM(m1.n / tot.nn * LN(m1.n / tot.nn)) AS h1
      FROM m1 JOIN tot USING (source) GROUP BY m1.source
    )
    SELECT h2.source,
           CAST(tot.nn AS BIGINT) AS n_bigrams,
           ROUND(h1.h1, 6) AS h_unigram,
           ROUND(h2.h2, 6) AS h_bigram,
           ROUND(h2.h2 - h1.h1, 6) AS entropy_rate
    FROM h2 JOIN h1 USING (source) JOIN tot USING (source)
    """,
)
def text_char_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-bigram entropy rate per source: H(c2 | c1) = H(c1,c2) -
    H(c1) in nats — the order-1 Markov approximation of Shannon's
    entropy-of-English measurement and the SQL-reproducible stand-in for
    the gzip-compressibility quality signal LLM pipelines use (low rate
    = template/repetitive text, high rate = encrypted/garbled blobs;
    both get filtered before training). Complements the TOKEN-level
    diversity family (`text_yule_k`, `text_mattr_diversity`): character
    structure catches degeneracies tokenization hides (e.g. base64
    blocks tokenize into few long types but have near-maximal char
    entropy).

    Plan: the bigram extraction is a bounded positional explode (one row
    per character — the tokenize-family cost, linear in corpus bytes),
    collapsed immediately by a map-side-combining groupBy to O(sources x
    alphabet^2) cells; both entropies are folds over that tiny frame.
    LN of exact integer ratios on identically-grouped cells, fold-order
    ulp absorbed by ROUND 6 (the text_js_divergence convention)."""
    d = load(spark, sf_dir, "documents")
    big = d.select(
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("text") - 1),
                lambda i: F.struct(
                    F.col("text").substr(i, F.lit(1)).alias("c1"),
                    F.col("text").substr(i + 1, F.lit(1)).alias("c2"),
                ),
            )
        ).alias("p"),
    ).select("source", F.col("p.c1").alias("c1"), F.col("p.c2").alias("c2"))
    cnt = big.groupBy("source", "c1", "c2").agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    tot = cnt.groupBy("source").agg(F.sum("n").alias("nn"))
    h2 = (
        cnt.join(F.broadcast(tot), "source")
        .groupBy("source")
        .agg(
            (-F.sum(F.col("n") / F.col("nn") * F.log(F.col("n") / F.col("nn"))))
            .alias("h2")
        )
    )
    m1 = cnt.groupBy("source", "c1").agg(F.sum("n").alias("n"))
    h1 = (
        m1.join(F.broadcast(tot), "source")
        .groupBy("source")
        .agg(
            (-F.sum(F.col("n") / F.col("nn") * F.log(F.col("n") / F.col("nn"))))
            .alias("h1")
        )
    )
    return (
        h2.join(F.broadcast(h1), "source")
        .join(F.broadcast(tot), "source")
        .select(
            "source",
            F.col("nn").cast("long").alias("n_bigrams"),
            F.round("h1", 6).alias("h_unigram"),
            F.round("h2", 6).alias("h_bigram"),
            F.round(F.col("h2") - F.col("h1"), 6).alias("entropy_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Content-defined chunking dedup (round 11 tail)
# ---------------------------------------------------------------------------
_CDC_W = 3  # rolling-window width (tokens) that decides chunk boundaries
_CDC_D = 8  # boundary divisor: P(boundary) = 1/8 -> ~8-token expected chunks


@register(
    "dedup_cdc_chunks",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
    ),
    cutsets AS (
      SELECT doc_id, source, t,
             list_sort(list_distinct(list_concat(list_concat(
               [0],
               list_transform(
                 list_filter(generate_series(1, GREATEST(len(t) - {_CDC_W} + 1, 0)),
                   i -> CAST(concat('0x', substr(md5(
                          array_to_string(t[i:i+{_CDC_W} - 1], ' ')), 1, 15))
                        AS BIGINT) % {_CDC_D} = 0),
                 i -> i + {_CDC_W} - 1)),
               [len(t)]))) AS cuts
      FROM toks
    ),
    chunks AS (
      SELECT source,
             CAST(concat('0x', substr(md5(chunk_text), 1, 15)) AS BIGINT) AS ch,
             ntoks
      FROM (
        SELECT source,
               array_to_string(t[cuts[j] + 1:cuts[j + 1]], ' ') AS chunk_text,
               cuts[j + 1] - cuts[j] AS ntoks
        FROM cutsets, UNNEST(generate_series(1, len(cuts) - 1)) AS u(j)
      )
    ),
    per_chunk AS (
      SELECT source, ch, CAST(COUNT(*) AS DOUBLE) AS reps,
             MIN(ntoks) AS ntoks
      FROM chunks GROUP BY 1, 2
    )
    SELECT source,
           CAST(SUM(reps) AS BIGINT) AS total_chunks,
           COUNT(*) AS distinct_chunks,
           ROUND(1 - COUNT(*) / SUM(reps), 4) AS dup_chunk_pct,
           ROUND(SUM(reps * ntoks) / SUM(reps), 4) AS avg_chunk_toks,
           CAST(SUM((reps - 1) * ntoks) AS BIGINT) AS saved_toks
    FROM per_chunk GROUP BY source ORDER BY source
    """,
)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (the FastCDC / rsync / LBFS family):
    chunk boundaries fall where a {_CDC_W}-token rolling window's hash is
    0 mod {_CDC_D}, so boundaries depend only on LOCAL content — an
    insertion near the head of a document shifts every fixed-width block
    but leaves all downstream CDC chunks byte-identical, which is the
    property that makes storage-level dedup work and which
    `text_line_dedup`'s fixed line grid does not have. Per source:
    chunk-count, distinct-chunk count, duplicate-chunk fraction, mean
    chunk length, and the tokens a chunk-store would save (reps-1 copies
    of each repeated chunk).

    Plan: boundary detection, cut-point assembly, and chunk extraction are
    ALL in-row array expressions over the token array (no explode until
    finished chunks exist); the only shuffles are the two bounded
    groupBys — (source, chunk_hash) then source. Chunk identity is the
    `_h64` md5 hash (8-byte shuffle keys, same function in the oracle).
    At 100 TB this is the standard dedup-storage accounting pass: one map
    stage plus a near-linear hash aggregation, never pairwise."""
    d = load(spark, sf_dir, "documents").select(
        # token array staged as a real column so the boundary filter
        # doesn't re-split the text per candidate position (see
        # _doc_shingle_arrays, r14)
        "source",
        F.split("text", " ").alias("_tk"),
    )
    t = F.col("_tk")
    n = F.size(t)
    win = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(t, (i + k).cast("int")) for k in range(_CDC_W)]
    )
    # when() is lazy per row, so short docs (< _CDC_W tokens, where Spark's
    # sequence(1, 0) would DESCEND into an element_at(t, 0) error) never
    # evaluate the window branch and become one whole-doc chunk.
    bpos = F.when(
        n >= _CDC_W,
        F.filter(
            F.sequence(F.lit(1), n - _CDC_W + 1),
            lambda i: _h64(win(i)) % _CDC_D == 0,
        ),
    ).otherwise(F.array().cast("array<int>"))
    cuts = F.array_sort(
        F.array_distinct(
            F.concat(
                F.array(F.lit(0)),
                F.transform(bpos, lambda i: (i + _CDC_W - 1).cast("long")),
                F.array(n.cast("long")),
            )
        )
    )
    cut = d.select("source", t.alias("t"), cuts.alias("cuts"))
    chunk_structs = F.transform(
        F.sequence(F.lit(1), F.size("cuts") - 1),
        lambda j: F.struct(
            F.concat_ws(
                " ",
                F.slice(
                    F.col("t"),
                    (F.element_at(F.col("cuts"), j.cast("int")) + 1).cast("int"),
                    (
                        F.element_at(F.col("cuts"), (j + 1).cast("int"))
                        - F.element_at(F.col("cuts"), j.cast("int"))
                    ).cast("int"),
                ),
            ).alias("chunk_text"),
            (
                F.element_at(F.col("cuts"), (j + 1).cast("int"))
                - F.element_at(F.col("cuts"), j.cast("int"))
            ).alias("ntoks"),
        ),
    )
    chunks = cut.select(
        "source", F.explode(chunk_structs).alias("c")
    ).select(
        "source",
        _h64(F.col("c.chunk_text")).alias("ch"),
        F.col("c.ntoks").alias("ntoks"),
    )
    per_chunk = chunks.groupBy("source", "ch").agg(
        F.count(F.lit(1)).cast("double").alias("reps"),
        F.min("ntoks").alias("ntoks"),
    )
    return (
        per_chunk.groupBy("source")
        .agg(
            F.sum("reps").cast("long").alias("total_chunks"),
            F.count(F.lit(1)).alias("distinct_chunks"),
            F.round(1 - F.count(F.lit(1)) / F.sum("reps"), 4).alias("dup_chunk_pct"),
            F.round(
                F.sum(F.col("reps") * F.col("ntoks")) / F.sum("reps"), 4
            ).alias("avg_chunk_toks"),
            F.sum((F.col("reps") - 1) * F.col("ntoks"))
            .cast("long")
            .alias("saved_toks"),
        )
        .orderBy("source")
    )
