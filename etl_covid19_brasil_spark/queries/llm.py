"""LLM-data-pipeline operators (SURVEY.md §2.10): text analysis, exact and
near deduplication, embedding similarity search, kNN.

Design for 100 TB:
- tokenization/stats/fingerprints are pure per-row built-ins (codegen'd,
  no shuffle);
- exact dedup is a hash-groupBy (one shuffle on the content hash);
- near-dup has two tiers: exact pairwise Jaccard (quadratic — the
  correctness oracle) and MinHash-LSH banding (the scale path: candidates
  via equi-join on band buckets, one shuffle, no cross join) — see
  llm/minhash.py;
- cosine top-k has two tiers as well: brute-force crossJoin (oracle-
  checkable; both engines fold the identical double ops, so similarities
  are bit-identical) and LSH-bucketed ANN (llm/ann.py, rows-only).
"""

from __future__ import annotations

import functools

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.window import Window

from etl_covid19_brasil_spark.llm.similarity import _spread
from etl_covid19_brasil_spark.registry import T, query

_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "on", "for")
_SW_SQL = "(" + ", ".join(f"'{w}'" for w in _STOPWORDS) + ")"


def _tokens() -> F.Column:
    """Whitespace tokenization of pre-normalized text (documents.text is
    already lowercase word-soup; the regex strips any stray punctuation)."""
    return F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " ")), " +")


_O_TOKENS = "string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')), ' +')"


@query(
    "text_tokenize_freq",
    oracle=f"""
    SELECT token, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
    FROM (SELECT doc_id, unnest({_O_TOKENS}) AS token FROM documents)
    GROUP BY token
    """,
    section="2.10",
    doc="Corpus token frequency: normalize -> tokenize -> explode -> count. "
    "The explode is map-side; the single shuffle carries (token, partial "
    "count) pairs only.",
)
def text_tokenize_freq(spark: SparkSession, sf: str) -> DataFrame:
    d = T(spark, sf, "documents")
    return (
        d.select("doc_id", F.explode(_tokens()).alias("token"))
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )


@query(
    "text_stats",
    oracle=f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST((SUM(n_chars) * 1000) // COUNT(*) AS BIGINT) AS avg_chars_milli,
           CAST(SUM(len({_O_TOKENS})) AS BIGINT) AS total_tokens,
           MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
    FROM documents
    GROUP BY lang
    """,
    section="2.10",
    doc="Per-language corpus statistics (doc counts, char/token totals). "
    "The mean is reported as integer milli-chars (exact-integer sum, "
    "integer floor-division) — aggregate-derived double ratios are not "
    "hash-stable across oracle engines (diag_key_skew, r02).",
)
def text_stats(spark: SparkSession, sf: str) -> DataFrame:
    d = T(spark, sf, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr("sum(n_chars) * 1000L div count(*)").alias("avg_chars_milli"),
        F.sum(F.size(_tokens()).cast("long")).alias("total_tokens"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@query(
    "text_quality",
    oracle=f"""
    WITH t AS (SELECT doc_id, n_chars, {_O_TOKENS} AS toks FROM documents)
    SELECT doc_id,
           len(toks) AS n_tokens,
           CAST((len(list_filter(toks, x -> list_contains({_SW_SQL.replace("(", "[").replace(")", "]")}, x))) * 1000000)
             // len(toks) AS BIGINT) AS stopword_ppm,
           CAST((n_chars * 1000) // len(toks) AS BIGINT) AS avg_token_len_milli,
           (len(toks) >= 50 AND len(toks) <= 1000) AS len_ok
    FROM t
    """,
    section="2.10",
    doc="Quality scoring signals: token count, stopword ratio (integer "
    "ppm), mean token length (integer milli-chars), length gate — the "
    "standard pretraining-corpus filters, all as built-in expressions; "
    "ratios are integer floor-divisions so the hash survives any oracle "
    "engine's double semantics.",
)
def text_quality(spark: SparkSession, sf: str) -> DataFrame:
    d = T(spark, sf, "documents")
    toks = _tokens()
    n_tok = F.size(toks)
    sw = F.size(F.filter(toks, lambda x: x.isin(*_STOPWORDS)))
    return d.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        (sw.cast("long") * 1000000).alias("sw_u"),
        "n_chars",
        ((n_tok >= 50) & (n_tok <= 1000)).alias("len_ok"),
    ).select(
        "doc_id",
        "n_tokens",
        F.expr("sw_u div n_tokens").alias("stopword_ppm"),
        F.expr("n_chars * 1000L div n_tokens").alias("avg_token_len_milli"),
        "len_ok",
    )


@query(
    "text_langid",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, {_O_TOKENS} AS toks FROM documents),
    s AS (
      SELECT doc_id, lang,
             len(list_filter(toks, x -> list_contains(['the','a','is','of'], x))) AS en_hits,
             len(list_filter(toks, x -> list_contains(['der','die','das','und'], x))) AS de_hits,
             len(list_filter(toks, x -> list_contains(['le','la','et','les'], x))) AS fr_hits
      FROM t
    )
    SELECT doc_id, lang,
           CASE WHEN de_hits > en_hits AND de_hits > fr_hits THEN 'de'
                WHEN fr_hits > en_hits AND fr_hits >= de_hits THEN 'fr'
                WHEN en_hits > 0 THEN 'en'
                ELSE 'unknown' END AS lang_guess
    FROM s
    """,
    section="2.10",
    doc="Stopword-profile language ID heuristic (per-row, zero shuffle). "
    "The guess column is the operator's deterministic output; agreement "
    "with the synthetic lang label is not the contract.",
)
def text_langid(spark: SparkSession, sf: str) -> DataFrame:
    d = T(spark, sf, "documents")
    toks = _tokens()

    def hits(words: list[str]) -> F.Column:
        return F.size(F.filter(toks, lambda x: x.isin(*words)))

    en, de, fr = hits(["the", "a", "is", "of"]), hits(["der", "die", "das", "und"]), hits(["le", "la", "et", "les"])
    return d.select(
        "doc_id",
        "lang",
        F.when((de > en) & (de > fr), "de")
        .when((fr > en) & (fr >= de), "fr")
        .when(en > 0, "en")
        .otherwise("unknown")
        .alias("lang_guess"),
    )


@query(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'))) AS fingerprint,
           substring(md5(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'))), 1, 8) AS bucket
    FROM documents
    """,
    section="2.10",
    doc="Content fingerprint: md5 over normalized text (the canonical-form "
    "hash exact dedup groups on).",
)
def doc_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    d = T(spark, sf, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "))
    return d.select(
        "doc_id",
        F.md5(norm).alias("fingerprint"),
        F.substring(F.md5(norm), 1, 8).alias("bucket"),
    )


@query(
    "exact_dedup",
    oracle="""
    WITH doubled AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 3 = 0
    )
    SELECT md5(text) AS content_hash,
           MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_copies
    FROM doubled
    GROUP BY md5(text)
    """,
    section="2.10",
    doc="Exact deduplication as hash-groupBy keep-first (duplicates "
    "synthesized by re-unioning a third of the corpus — the test corpus "
    "itself is duplicate-free). One shuffle on the 128-bit content hash; "
    "at 100 TB the hash (16 B) shuffles instead of the document bodies.",
)
def exact_dedup(spark: SparkSession, sf: str) -> DataFrame:
    d = T(spark, sf, "documents").select("doc_id", "text")
    doubled = d.unionByName(
        d.filter(F.col("doc_id") % 3 == 0).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
        )
    )
    return doubled.groupBy(F.md5("text").alias("content_hash")).agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


@query(
    "token_count_bpeish",
    oracle="""
    SELECT doc_id,
           len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS n_bpe_tokens,
           len(string_split_regex(trim(text), '\\s+')) AS n_ws_tokens
    FROM documents
    """,
    section="2.10",
    doc="Token counting: whitespace tokens vs a BPE-ish regex (letter runs, "
    "digit runs, single punctuation) — the pretokenizer shape GPT-style "
    "BPE vocabularies assume.",
)
def token_count_bpeish(spark: SparkSession, sf: str) -> DataFrame:
    d = T(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.regexp_count("text", F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]")).cast("long").alias(
            "n_bpe_tokens"
        ),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_ws_tokens"),
    )


@query(
    "ngram_profile",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_O_TOKENS} AS toks FROM documents),
    grams AS (
      SELECT unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS bigram
      FROM t
    )
    SELECT bigram, COUNT(*) AS n FROM grams GROUP BY bigram HAVING COUNT(*) >= 5
    """,
    section="2.10",
    doc="Corpus bigram profile via index-lambda shingling + explode; the "
    "HAVING keeps the hot tail out of the hash check.",
)
def ngram_profile(spark: SparkSession, sf: str) -> DataFrame:
    d = T(spark, sf, "documents")
    # Tokenize behind a materialization barrier, then shingle over the
    # stored array — the per-position lambda otherwise re-evaluates the
    # tokenizer regex per bigram (O(len^2) per doc; the
    # dedup_substring_ngrams lesson, found via thread dump at the 8x
    # probe).
    tok_df = _spread(d).select(
        "doc_id", _tokens().alias("tk")
    ).localCheckpoint(eager=False)
    tk = F.col("tk")
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size(tk) - 1),
        lambda i: F.concat_ws(" ", F.element_at(tk, i), F.element_at(tk, i + 1)),
    )
    return (
        tok_df.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 5)
    )


# --- near-duplicate family -------------------------------------------------
#
# The synthetic corpus draws from a ~31-word vocabulary, so *unigram* token
# sets are nearly identical across unrelated documents (a third of all pairs
# exceed 0.8 Jaccard) — no LSH scheme can prune that. Shingling (3-grams)
# restores discrimination: word order is random, so cross-document shingle
# overlap is ~0 while a true near-duplicate (here: a copy with its first
# three tokens dropped) keeps ~97% of its shingles. Each near-dup query runs
# over `documents + mutated copies of every third doc`, so the expected
# answer is exactly those (doc, doc+1M) pairs.


def _shingles(tokens: F.Column) -> F.Column:
    """Distinct 3-token shingles; empty array below 3 tokens (Spark's
    sequence() would wrap around descending)."""
    gram = F.transform(
        F.sequence(F.lit(1), F.size(tokens) - 2),
        lambda i: F.concat_ws(
            " ", F.element_at(tokens, i), F.element_at(tokens, i + 1), F.element_at(tokens, i + 2)
        ),
    )
    return F.array_distinct(
        F.when(F.size(tokens) >= 3, gram).otherwise(F.array().cast("array<string>"))
    )


_O_SHINGLES = (
    "list_distinct(list_transform(range(1, len({w}) - 1), "
    "i -> {w}[i] || ' ' || {w}[i+1] || ' ' || {w}[i+2]))"
)


def _shingle_hashes(tokens: F.Column) -> F.Column:
    """3-token shingles hashed straight to longs — the scale-path twin of
    _shingles for pipelines that only need shingle IDENTITY (minhash,
    simhash: set membership, min-over-set). Skips the string concat and
    the O(n^2) array_distinct: higher-order lambdas run interpreted (no
    whole-stage codegen), so per-element string building dominated the
    LSH pipelines — hashing token triples in place measured ~3x faster;
    downstream dedup happens once, after the per-doc arrays are cached."""
    gram = F.transform(
        F.sequence(F.lit(1), F.size(tokens) - 2),
        lambda i: F.xxhash64(
            F.element_at(tokens, i), F.element_at(tokens, i + 1), F.element_at(tokens, i + 2)
        ),
    )
    return F.when(F.size(tokens) >= 3, gram).otherwise(F.array().cast("array<long>"))


def _near_dup_corpus(spark: SparkSession, sf: str, drops: tuple[int, ...] = (3,)) -> DataFrame:
    """documents plus, for every third document, one mutated copy per
    entry of ``drops`` (first ``k`` tokens dropped, id offset by k/3 * 1M)
    — deterministic near-dup pairs, or groups of len(drops) + 1."""
    d = _spread(T(spark, sf, "documents")).select("doc_id", _tokens().alias("w"))
    out = d
    for k in drops:
        out = out.unionByName(
            d.filter(F.col("doc_id") % 3 == 0).select(
                (F.col("doc_id") + k // 3 * 1_000_000).alias("doc_id"),
                F.slice(F.col("w"), k + 1, F.greatest(F.size("w") - k, F.lit(0))).alias("w"),
            )
        )
    return out


_O_CORPUS = f"""
      SELECT doc_id, {_O_TOKENS} AS w FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, list_slice({_O_TOKENS}, 4, len({_O_TOKENS})) AS w
      FROM documents WHERE doc_id % 3 = 0
"""


# The exact pairwise tier is quadratic BY DESIGN (it is the oracle the LSH
# tier is verified against) — cap its corpus so it stays tractable at any
# SF. 1000 > the 500 documents at the sf0.01 gate, so the gate result is
# identical; at sf0.1+ the cap keeps the cross join at ~1.8M pairs while
# the LSH tiers run the full corpus.
_JACCARD_CAP = 1000


def _shingle_sets(corpus: DataFrame, *extra: F.Column) -> DataFrame:
    """``(doc_id, sh, *extra)`` over the capped corpus: ``sh`` is the
    distinct hashed 3-shingle set. Hashes, not strings: |A∩B| and |A| are
    identical either way (xxhash64 collisions aside, ~n^2/2^64), and
    long arrays cut the quadratic pair stage ~3x (see _shingle_hashes).
    Lazily checkpointed — every exact tier reads the sets more than once
    (both posting sides, sizes, verification)."""
    return (
        corpus.filter(F.col("doc_id") % 1_000_000 < _JACCARD_CAP)
        .select("doc_id", F.array_distinct(_shingle_hashes(F.col("w"))).alias("sh"), *extra)
        .localCheckpoint(eager=False)
    )


def _posting_pairs(d: DataFrame) -> DataFrame:
    """Exact set-similarity candidates by the POSTING-LIST formulation:
    explode each ``(doc_id, sh, *extra)`` set, self-join on the shingle
    value with ``a.doc_id < b.doc_id`` and count — the group count IS
    |A∩B|, and pairs sharing no shingle never materialize, so work tracks
    real co-occurrence instead of all O(n^2) pairs (the shuffle key is the
    shingle hash; Zipf-hot shingles would be the skew to salt, but 3-gram
    shingles are near-unique by construction). Returns ``(doc_a, doc_b,
    inter)`` joined to both sides ``sa``/``sb`` = ``(doc_id, sz, *extra)``
    with ``sz`` = |set| as a long; each caller applies its own gate."""
    ex = d.select("doc_id", F.explode("sh").alias("s"))
    cand = (
        ex.alias("a")
        .join(ex.alias("b"), (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    extra = [c for c in d.columns if c not in ("doc_id", "sh")]
    sides = d.select("doc_id", F.size("sh").cast("long").alias("sz"), *extra)
    return cand.join(sides.alias("sa"), F.col("doc_a") == F.col("sa.doc_id")).join(
        sides.alias("sb"), F.col("doc_b") == F.col("sb.doc_id")
    )


@query(
    "near_dedup_jaccard",
    oracle=f"""
    WITH corpus AS ({_O_CORPUS}),
    t AS (SELECT doc_id, {_O_SHINGLES.format(w='w')} AS sh FROM corpus
          WHERE doc_id % 1000000 < {_JACCARD_CAP}),
    ex AS (SELECT doc_id, unnest(sh) AS s FROM t),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           CAST((c.inter * 1000000) // (len(sa.sh) + len(sb.sh) - c.inter) AS BIGINT)
             AS jaccard_ppm
    FROM cand c
    JOIN t sa ON sa.doc_id = c.doc_a
    JOIN t sb ON sb.doc_id = c.doc_b
    WHERE c.inter * 5 >= (len(sa.sh) + len(sb.sh) - c.inter) * 4
    """,
    section="2.10",
    doc="Exact shingle-set Jaccard near-dup pairs (threshold 0.8) over the "
    "synthesized-duplicate corpus (capped at 1000 source docs — covers "
    "the whole sf0.01 gate corpus), via the POSTING-LIST formulation: "
    "explode shingles, equi-join on the shingle value, and the group "
    "count is |A∩B| — pairs sharing no shingle never materialize, so "
    "work tracks real co-occurrence instead of all O(n^2) pairs. Shingle "
    "identity rides xxhash64 longs (same counts as strings modulo "
    "~n^2/2^64 collisions). The 0.8 threshold is applied by INTEGER "
    "cross-multiplication (5*inter >= 4*union) and jaccard is reported "
    "as integer ppm — no double ever enters the checked output, so a "
    "pair at exactly 0.8 cannot flip between engines. This exact tier "
    "stays the oracle for near_dedup_minhash, which trades it for "
    "bounded-signature cost.",
)
def near_dedup_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    union = F.col("sa.sz") + F.col("sb.sz") - F.col("inter")
    return (
        _posting_pairs(_shingle_sets(_near_dup_corpus(spark, sf)))
        .filter(F.col("inter") * 5 >= union * 4)
        .select(
            "doc_a",
            "doc_b",
            (F.col("inter") * 1000000).alias("inter_u"),
            union.alias("uni"),
        )
        .select("doc_a", "doc_b", F.expr("inter_u div uni").alias("jaccard_ppm"))
    )


@query(
    "near_dedup_verify_edit",
    oracle=f"""
    WITH corpus AS ({_O_CORPUS}),
    t AS (SELECT doc_id, {_O_SHINGLES.format(w='w')} AS sh,
                 substr(array_to_string(w, ' '), 1, 200) AS norm
          FROM corpus WHERE doc_id % 1000000 < {_JACCARD_CAP}),
    ex AS (SELECT doc_id, unnest(sh) AS s FROM t),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    scored AS (
      SELECT c.doc_a, c.doc_b,
             CAST(levenshtein(sa.norm, sb.norm) AS BIGINT) AS edit_dist,
             CAST(greatest(length(sa.norm), length(sb.norm)) AS BIGINT) AS max_len
      FROM cand c
      JOIN t sa ON sa.doc_id = c.doc_a
      JOIN t sb ON sb.doc_id = c.doc_b
      WHERE c.inter * 2 >= (len(sa.sh) + len(sb.sh) - c.inter)
    )
    SELECT doc_a, doc_b, edit_dist,
           CAST((max_len - edit_dist) * 1000000 // max_len AS BIGINT)
             AS edit_sim_ppm
    FROM scored
    """,
    section="2.10",
    doc="Candidate VERIFICATION pass — the step real dedup pipelines run "
    "after LSH banding: shingle-Jaccard candidates (posting-list join, "
    "integer 0.5 threshold) are re-scored with true Levenshtein distance "
    "over the normalized text (200-char prefix bounds the O(n*m) DP per "
    "pair), reported as exact edit counts plus an integer-ppm similarity "
    "(1 - d/max_len). Character-level verification catches false "
    "positives token shingles can't (reorderings, boilerplate overlap); "
    "cost is per-candidate, never per-pair-of-corpus. Both engines run "
    "built-in levenshtein — no UDF.",
)
def near_dedup_verify_edit(spark: SparkSession, sf: str) -> DataFrame:
    norm = F.substring(F.array_join(F.col("w"), " "), 1, 200).alias("norm")
    union = F.col("sa.sz") + F.col("sb.sz") - F.col("inter")
    max_len = F.greatest(F.length("sa.norm"), F.length("sb.norm")).cast("long")
    dist = F.levenshtein(F.col("sa.norm"), F.col("sb.norm")).cast("long")
    return (
        _posting_pairs(_shingle_sets(_near_dup_corpus(spark, sf), norm))
        .filter(F.col("inter") * 2 >= union)
        .select(
            "doc_a",
            "doc_b",
            dist.alias("edit_dist"),
            max_len.alias("max_len"),
        )
        .select(
            "doc_a",
            "doc_b",
            "edit_dist",
            F.expr("(max_len - edit_dist) * 1000000L div max_len").alias(
                "edit_sim_ppm"
            ),
        )
    )


@query(
    "near_dedup_minhash",
    oracle=None,  # LSH banding is probabilistic-by-construction -> rows-only
    section="2.10",
    doc="MinHash-LSH near-dup candidates over 3-gram shingles, verified by "
    "exact Jaccard — the scale path: signatures via xxhash64 permutations "
    "(map-side), candidates via equi-join on (band, band_hash) buckets, "
    "one shuffle, no cross join. See llm/minhash.py.",
)
def near_dedup_minhash(spark: SparkSession, sf: str) -> DataFrame:
    from etl_covid19_brasil_spark.llm.minhash import minhash_near_dup_pairs

    d = _near_dup_corpus(spark, sf).select("doc_id", _shingle_hashes(F.col("w")).alias("sh"))
    return minhash_near_dup_pairs(d, id_col="doc_id", tokens_col="sh", threshold=0.8)


@query(
    "near_dedup_simhash",
    oracle=None,  # engine-specific 64-bit hash mixing -> rows-only
    section="2.10",
    doc="SimHash 64-bit signatures over 3-gram shingles + hamming-distance "
    "candidate pairs via 16-bit band buckets. See llm/simhash.py.",
)
def near_dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    from etl_covid19_brasil_spark.llm.simhash import simhash_near_dup_pairs

    d = _near_dup_corpus(spark, sf).select("doc_id", _shingle_hashes(F.col("w")).alias("sh"))
    return simhash_near_dup_pairs(d, id_col="doc_id", tokens_col="sh", max_hamming=8)


# ---------------------------------------------------------------------------
# Embedding similarity
# ---------------------------------------------------------------------------

# Cosine folded in strict array order with double ops from the start:
# both engines execute the identical IEEE sequence -> bit-identical sims.
_O_DOT = (
    "list_reduce(list_transform(range(1, len({a}) + 1), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
)


def _dot(a: F.Column, b: F.Column) -> F.Column:
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


@query(
    "embedding_norms",
    oracle=f"""
    SELECT vec_id, label,
           sqrt({_O_DOT.format(a='embedding', b='embedding')}) AS l2_norm,
           len(embedding) AS dim
    FROM embeddings
    """,
    section="2.10",
    doc="Per-vector L2 norm via higher-order fold (zip_with + aggregate); "
    "pure map-side math.",
)
def embedding_norms(spark: SparkSession, sf: str) -> DataFrame:
    e = T(spark, sf, "embeddings")
    emb = F.col("embedding")
    return e.select(
        "vec_id",
        "label",
        F.sqrt(_dot(emb, emb)).alias("l2_norm"),
        F.size(emb).cast("long").alias("dim"),
    )


# Normalized-vector formulation shared by the similarity queries: vectors
# are L2-normalized once (element / norm), then cosine = one ordered-fold
# dot per pair. The Spark side runs the broadcast-index mapInPandas kernel
# (llm/similarity.py) whose dimension-ordered accumulation is bit-identical
# to this SQL.
_O_NORMED = (
    "list_transform(embedding, x -> CAST(x AS DOUBLE) / "
    f"sqrt({_O_DOT.format(a='embedding', b='embedding')}))"
)
_O_NDOT = (
    "list_reduce(list_transform(range(1, len({a}) + 1), i -> {a}[i] * {b}[i]), (x, y) -> x + y)"
)


@query(
    "similarity_topk",
    oracle=f"""
    WITH n AS (SELECT vec_id, {_O_NORMED} AS ne FROM embeddings),
    sims AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             {_O_NDOT.format(a='a.ne', b='b.ne')} AS cosine
      FROM n a JOIN n b ON a.vec_id <> b.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM sims
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 5
    """,
    section="2.10",
    doc="Brute-force cosine top-5 neighbors per vector via the broadcast-"
    "index kernel (llm/similarity.py): normalize once, one ordered-fold "
    "dot per pair, deterministic tie-break — the exact baseline the ANN "
    "tier (ann_lsh_topk) approximates.",
)
def similarity_topk(spark: SparkSession, sf: str) -> DataFrame:
    from etl_covid19_brasil_spark.llm.similarity import brute_force_topk

    return brute_force_topk(T(spark, sf, "embeddings"), k=5)


@query(
    "knn_classify",
    oracle=f"""
    WITH n AS (SELECT vec_id, label, {_O_NORMED} AS ne FROM embeddings),
    sims AS (
      SELECT a.vec_id AS query_id, b.label AS neighbor_label, b.vec_id AS neighbor_id,
             {_O_NDOT.format(a='a.ne', b='b.ne')} AS cosine
      FROM n a JOIN n b ON a.vec_id <> b.vec_id
    ),
    top5 AS (
      SELECT query_id, neighbor_label FROM (
        SELECT query_id, neighbor_label,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id ASC) AS rank
        FROM sims
      ) WHERE rank <= 5
    ),
    votes AS (
      SELECT query_id, neighbor_label, COUNT(*) AS n_votes FROM top5
      GROUP BY query_id, neighbor_label
    )
    SELECT query_id, neighbor_label AS predicted_label FROM (
      SELECT query_id, neighbor_label,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY n_votes DESC, neighbor_label ASC) AS vote_rank
      FROM votes
    ) WHERE vote_rank = 1
    """,
    section="2.10",
    doc="5-NN majority-vote classification over kernel-computed cosine "
    "neighbors (deterministic tie-breaks: neighbor id, then smallest "
    "label).",
)
def knn_classify(spark: SparkSession, sf: str) -> DataFrame:
    from etl_covid19_brasil_spark.llm.similarity import brute_force_topk

    e = T(spark, sf, "embeddings")
    top5 = brute_force_topk(e, k=5)
    labels = e.select(F.col("vec_id").alias("neighbor_id"), F.col("label").alias("neighbor_label"))
    votes = (
        top5.join(labels, "neighbor_id")
        .groupBy("query_id", "neighbor_label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    vw = Window.partitionBy("query_id").orderBy(F.col("n_votes").desc(), F.col("neighbor_label").asc())
    return (
        votes.withColumn("vote_rank", F.row_number().over(vw))
        .filter(F.col("vote_rank") == 1)
        .select("query_id", F.col("neighbor_label").alias("predicted_label"))
    )


# Shared with scripts/skew_check.py's output-contract check (rows ==
# n_queries * k on the degenerate single-bucket cloud) so the probe
# cannot drift from the query if k changes.
ANN_LSH_TOPK_K = 5


@query(
    "ann_lsh_topk",
    oracle=None,  # approximate by construction -> rows-only
    section="2.10",
    doc="LSH-bucketed approximate nearest neighbors: random-hyperplane "
    "signatures with 1-bit multi-probe querying (recall ~0.97 pinned in "
    "tests/test_ann_recall.py), candidates restricted to probed buckets "
    "— the linear-shuffle scale path for similarity_topk. Library "
    "DEFAULTS on purpose: the plane count auto-scales with corpus size "
    "(llm/ann.py) — an explicit n_planes here silently reintroduced "
    "quadratic buckets at 8x in the round-6 scale probe.",
)
def ann_lsh_topk(spark: SparkSession, sf: str) -> DataFrame:
    from etl_covid19_brasil_spark.llm.ann import lsh_topk

    return lsh_topk(T(spark, sf, "embeddings"), k=ANN_LSH_TOPK_K)


@query(
    "near_dedup_embedding",
    oracle=f"""
    WITH corpus AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000 AS vec_id,
             list_prepend(CAST(embedding[1] AS DOUBLE) + 0.05,
                          list_transform(embedding[2:], x -> CAST(x AS DOUBLE))) AS e
      FROM embeddings WHERE vec_id % 4 = 0
    ),
    n AS (
      SELECT vec_id,
             list_transform(e, x -> x / sqrt({_O_NDOT.format(a='e', b='e')})) AS ne
      FROM corpus
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {_O_NDOT.format(a='a.ne', b='b.ne')} AS cosine
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE {_O_NDOT.format(a='a.ne', b='b.ne')} >= 0.9
    """,
    section="2.10",
    doc="Embedding-cosine near-duplicate pairs (threshold 0.9) over the "
    "embeddings table plus a perturbed copy of every fourth vector "
    "(+0.05 on the first coordinate of the UNIT-NORM vectors -> cosine "
    "~0.9987 vs its source, while unrelated pairs top out at ~0.51, so "
    "the truth set is exactly the 125 mutant-source pairs; the original "
    "+1.0 perturbation produced cosine 0.56-0.83 on unit vectors — "
    "BELOW the 0.9 threshold — so the query had been vacuously matching "
    "an empty oracle since r3, caught r7). Runs the broadcast-index "
    "threshold kernel (llm/similarity.py:cosine_pairs_above) — zero "
    "shuffle, bit-identical cosines to the SQL formulation.",
)
def near_dedup_embedding(spark: SparkSession, sf: str) -> DataFrame:
    from etl_covid19_brasil_spark.llm.similarity import cosine_pairs_above

    e = T(spark, sf, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )
    mutated = e.filter(F.col("vec_id") % 4 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.concat(
            F.array(F.element_at("e", 1) + F.lit(0.05)),
            F.slice(F.col("e"), F.lit(2), F.size("e") - 1),
        ).alias("e"),
    )
    corpus = e.unionByName(mutated)
    return cosine_pairs_above(corpus, threshold=0.9, id_col="vec_id", vec_col="e")


# ---------------------------------------------------------------------------
# Multimodal columns (binary payload + typed metadata; SURVEY.md §2.10 /
# north star). PPM/PNG/WAV decode for real; only the extract_features
# embedding is a stub. The Spark plumbing — binary column, Arrow
# batching, mapInPandas schema — is the real 100 TB shape. See
# llm/multimodal.py.
# ---------------------------------------------------------------------------


@query(
    "media_feature_stats",
    oracle="""
    SELECT doc_id AS media_id, 'image' AS media_type,
           octet_length(encode(text)) AS n_bytes
    FROM documents
    """,
    section="2.10",
    doc="Multimodal plumbing, oracle-checkable slice: wrap documents as a "
    "binary media table, run the Arrow-batched mapInPandas decode kernel, "
    "keep the scalar outputs (payload byte counts) the oracle can "
    "recompute from the source text.",
)
def media_feature_stats(spark: SparkSession, sf: str) -> DataFrame:
    from etl_covid19_brasil_spark.llm.multimodal import documents_as_media, extract_features

    media = documents_as_media(T(spark, sf, "documents"))
    return extract_features(media, fake=True).select("media_id", "media_type", "n_bytes")


@query(
    "media_decode_features",
    oracle=None,  # stub decode kernel is engine-defined -> rows-only
    section="2.10",
    doc="Full multimodal decode path: binary payloads -> Arrow-batched "
    "mapInPandas kernel -> deterministic stub feature vectors "
    "(byte histograms standing in for image decode; real deployments "
    "swap in PIL/libvips). Determinism is asserted in "
    "tests/test_multimodal.py.",
)
def media_decode_features(spark: SparkSession, sf: str) -> DataFrame:
    from etl_covid19_brasil_spark.llm.multimodal import documents_as_media, extract_features

    media = documents_as_media(T(spark, sf, "documents"))
    # Feature vector joins to a scalar string: checked outputs must carry
    # no array cells (the driver canonicalizer sorts every column).
    return extract_features(media, fake=True).select(
        "media_id",
        "media_type",
        "n_bytes",
        F.array_join(F.col("feature").cast("array<string>"), ",").alias("feature"),
    )


@query(
    "media_image_ppm_decode",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(greatest(n_chars, 1) AS BIGINT) AS width,
           CAST(2 AS BIGINT) AS height,
           CAST(2 * greatest(n_chars, 1) AS BIGINT) AS n_pixels,
           CAST(list_aggregate(
             list_transform(range(0, 2 * greatest(n_chars, 1)),
                            i -> (doc_id * 7 + i) % 256), 'sum')
             AS BIGINT) AS sum_lum,
           CAST(list_aggregate(
             list_transform(range(0, 2 * greatest(n_chars, 1)),
                            i -> (doc_id * 7 + i) % 256), 'sum') * 1000
             // (2 * greatest(n_chars, 1)) AS BIGINT) AS mean_lum_milli
    FROM documents
    """,
    section="2.10",
    doc="REAL image decode, hash-checked end-to-end: synthesize a binary "
    "P6 PPM per document (pixels derived from doc_id, width from "
    "n_chars — llm/multimodal.py:synth_ppm_media), then parse the actual "
    "format bytes back (magic, header tokens, raster plane — "
    "decode_ppm) in an Arrow-batched mapInPandas kernel and emit "
    "exact-integer luminance stats. The oracle recomputes the pixel "
    "function arithmetically, so the encode->decode->aggregate loop is "
    "verified bit-for-bit — no codec library involved; PNG/JPEG route "
    "through the same decode_image dispatcher when Pillow is installed.",
)
def media_image_ppm_decode(spark: SparkSession, sf: str) -> DataFrame:
    from etl_covid19_brasil_spark.llm.multimodal import image_features, synth_ppm_media

    return image_features(synth_ppm_media(T(spark, sf, "documents")))


@query(
    "media_image_png_decode",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(least(greatest(n_chars, 1), 256) AS BIGINT) AS width,
           CAST(2 AS BIGINT) AS height,
           CAST(2 * least(greatest(n_chars, 1), 256) AS BIGINT) AS n_pixels,
           CAST(list_aggregate(
             list_transform(range(0, 2 * least(greatest(n_chars, 1), 256)),
                            i -> (doc_id * 7 + i) % 256), 'sum')
             AS BIGINT) AS sum_lum,
           CAST(list_aggregate(
             list_transform(range(0, 2 * least(greatest(n_chars, 1), 256)),
                            i -> (doc_id * 7 + i) % 256), 'sum') * 1000
             // (2 * least(greatest(n_chars, 1), 256)) AS BIGINT) AS mean_lum_milli
    FROM documents
    """,
    section="2.10",
    doc="REAL PNG decode, hash-checked end-to-end and PURE STDLIB: "
    "synthesize a genuine PNG per document (same deterministic pixel "
    "function as the PPM query, width capped at 256, per-row filter "
    "type cycling over all five PNG filters — "
    "llm/multimodal.py:synth_png_media), then parse the actual format "
    "back (chunk walk with CRC verification, IHDR validation, zlib "
    "inflate, per-scanline unfilter — decode_png, via the decode_image "
    "dispatcher) in an Arrow-batched mapInPandas kernel. The oracle "
    "recomputes the pixel function arithmetically, so chunk framing + "
    "deflate + all five unfilter branches are verified bit-for-bit — "
    "PNG is the format real image corpora actually contain, and this "
    "path needs no Pillow.",
)
def media_image_png_decode(spark: SparkSession, sf: str) -> DataFrame:
    from etl_covid19_brasil_spark.llm.multimodal import image_features, synth_png_media

    return image_features(synth_png_media(T(spark, sf, "documents")))


@query(
    "media_audio_wav_decode",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(greatest(n_chars, 1) AS BIGINT) AS n_samples,
           CAST(8000 AS BIGINT) AS sample_rate,
           CAST(greatest(n_chars, 1) * 1000 // 8000 AS BIGINT) AS duration_ms,
           CAST(doc_id % 30000 AS BIGINT) AS peak
    FROM documents
    """,
    section="2.10",
    doc="REAL audio decode, hash-checked end-to-end: synthesize a RIFF/WAV "
    "payload per document (16-bit mono, constant amplitude doc_id % "
    "30000, n_chars samples at 8 kHz — llm/multimodal.py:synth_wav_media)"
    ", then parse the actual RIFF container back with the stdlib wave "
    "reader (decode_wav) in an Arrow-batched mapInPandas kernel. The "
    "oracle recomputes sample count, duration and peak arithmetically, "
    "verifying the container encode->decode loop exactly.",
)
def media_audio_wav_decode(spark: SparkSession, sf: str) -> DataFrame:
    from etl_covid19_brasil_spark.llm.multimodal import audio_wav_features, synth_wav_media

    return audio_wav_features(synth_wav_media(T(spark, sf, "documents")))


@query(
    "ann_ivf_topk",
    oracle=None,  # approximate by construction -> rows-only
    section="2.10",
    doc="IVF approximate nearest neighbors: coarse-quantize into Voronoi "
    "cells, index vectors live in 1 cell, queries probe their n_probe "
    "nearest cells, candidates meet in an equi-join on the cell id — the "
    "second ANN scale path next to ann_lsh_topk (recall >= 0.8 pinned in "
    "tests/test_ann_recall.py; the near-random test embeddings need a "
    "generous probe fraction — see llm/ann.py:ivf_topk probe-count note).",
)
def ann_ivf_topk(spark: SparkSession, sf: str) -> DataFrame:
    from etl_covid19_brasil_spark.llm.ann import ivf_topk

    # n_cells AND n_probe stay library-default (corpus-size-derived,
    # auto_n_cells/auto_n_probe): a fixed cell count reintroduces
    # quadratic cells at scale, and a fixed probe count is the r10
    # recall decay (0.679 at 8x vs 0.912 derived). At gate/bench scale
    # the derivation lands on the same 10-of-16 config as always.
    return ivf_topk(T(spark, sf, "embeddings"), k=5)


@query(
    "doc_fingerprint_winnow",
    oracle="""
    WITH ch AS (
      SELECT doc_id,
             list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT)) AS chars
      FROM documents WHERE length(text) >= 10
    ),
    h AS (
      SELECT doc_id,
             list_transform(range(1, len(chars) - 5),
                            i -> list_reduce(list_slice(chars, i, i + 6),
                                             (a, b) -> (a * 31 + b) % 1000000007)) AS hashes
      FROM ch
    )
    SELECT doc_id,
           array_to_string(
             list_sort(list_distinct(
               list_transform(range(1, len(hashes) - 2),
                              j -> list_min(list_slice(hashes, j, j + 3))))), ',') AS fingerprint,
           CAST(len(hashes) AS BIGINT) AS n_grams
    FROM h
    """,
    section="2.10",
    doc="Winnowing document fingerprint (Schleimer et al., MOSS): 7-char "
    "k-gram rolling polynomial hashes (base 31 mod 1e9+7 over char codes — "
    "max intermediate 31 * (1e9+7) + 127, well inside BIGINT even under "
    "ANSI sessions), minimum per 4-hash window, distinct-sorted selection. "
    "The scale path behind doc_fingerprint's whole-text md5: winnowed "
    "prints survive local edits, so shared fingerprints find partial "
    "overlap, not just exact duplicates. Pure per-row map-side higher-order "
    "expressions — zero shuffle, zero Python.",
)
def doc_fingerprint_winnow(spark: SparkSession, sf: str) -> DataFrame:
    K, W, M = 7, 4, 1_000_000_007
    d = _spread(T(spark, sf, "documents")).filter(F.length("text") >= 10)
    chars = F.transform(F.split(F.col("text"), ""), lambda c: F.ascii(c).cast("long"))
    # Each stage checkpoints before the next positional lambda consumes
    # it: adjacent Projects otherwise collapse and the char/hash array
    # expressions re-evaluate per position (O(len^2) per doc — the
    # dedup_substring_ngrams lesson).
    with_chars = d.select("doc_id", chars.alias("chars")).localCheckpoint(eager=False)
    hashes = F.transform(
        F.sequence(F.lit(1), F.size(F.col("chars")) - (K - 1)),
        lambda i: F.aggregate(
            F.slice(F.col("chars"), i, K),
            F.lit(0).cast("long"),
            lambda acc, c: (acc * 31 + c) % M,
        ),
    )
    with_hashes = with_chars.select("doc_id", hashes.alias("hashes")).localCheckpoint(
        eager=False
    )
    mins = F.transform(
        F.sequence(F.lit(1), F.size(F.col("hashes")) - (W - 1)),
        lambda j: F.array_min(F.slice(F.col("hashes"), j, W)),
    )
    return with_hashes.select(
        "doc_id",
        F.array_join(F.array_sort(F.array_distinct(mins)), ",").alias("fingerprint"),
        F.size(F.col("hashes")).cast("long").alias("n_grams"),
    )


@query(
    "sample_hash_split",
    oracle="""
    SELECT CASE WHEN substring(md5(text), 32, 1) = '0'
                THEN 'holdout' ELSE 'train' END AS split,
           lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY 1, 2
    """,
    section="2.10",
    doc="Deterministic content-hash train/holdout split (last md5 hex digit "
    "= '0' -> ~1/16 holdout). rand(seed)-style Bernoulli sampling is not "
    "reproducible across engines, partitionings, or reruns; hashing the "
    "CONTENT pins every document's assignment forever (and keeps exact "
    "duplicates in the same split by construction) — the standard "
    "train/eval split discipline for pretraining corpora. Pure map-side "
    "expression + one aggregate shuffle.",
)
def sample_hash_split(spark: SparkSession, sf: str) -> DataFrame:
    d = T(spark, sf, "documents")
    split = F.when(F.substring(F.md5(F.col("text")), 32, 1) == "0", "holdout").otherwise(
        "train"
    )
    return d.groupBy(split.alias("split"), "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


def _decontam_parts(spark: SparkSession, sf: str) -> tuple[DataFrame, DataFrame]:
    """``(tr, ev)``: the training shingle stream ``(doc_id, n_shingles,
    s)`` and the distinct eval shingle vocabulary ``(s)`` — docs with
    doc_id % 100 == 0 stand in for the benchmark."""
    docs = T(spark, sf, "documents").select("doc_id", _shingles(_tokens()).alias("sh"))
    ev = (
        docs.filter(F.col("doc_id") % 100 == 0)
        .select(F.explode("sh").alias("s"))
        .distinct()
    )
    tr = docs.filter(F.col("doc_id") % 100 != 0).select(
        "doc_id", F.size("sh").alias("n_shingles"), F.explode("sh").alias("s")
    )
    return tr, ev


def _contamination(tr: DataFrame, ev: DataFrame) -> DataFrame:
    """Per training doc: overlapping shingles with the broadcast eval
    vocabulary and their share. Shingle arrays are distinct per doc, so
    COUNT(*) counts distinct overlapping shingles."""
    return (
        tr.join(F.broadcast(ev), "s")
        .groupBy("doc_id", "n_shingles")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
        .select(
            "doc_id",
            "n_shingles",
            "n_contaminated",
            (F.col("n_contaminated").cast("double") / F.col("n_shingles")).alias(
                "contamination"
            ),
        )
    )


@query(
    "decontaminate_ngram_overlap",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, {_O_SHINGLES.format(w=f'({_O_TOKENS})')} AS sh FROM documents
    ),
    ev AS (SELECT DISTINCT unnest(sh) AS s FROM sh WHERE doc_id % 100 = 0),
    tr AS (
      SELECT doc_id, len(sh) AS n_shingles, unnest(sh) AS s
      FROM sh WHERE doc_id % 100 <> 0
    )
    SELECT tr.doc_id,
           tr.n_shingles,
           COUNT(*) AS n_contaminated,
           CAST(COUNT(*) AS DOUBLE) / tr.n_shingles AS contamination
    FROM tr JOIN ev USING (s)
    GROUP BY tr.doc_id, tr.n_shingles
    """,
    section="2.10",
    doc="Benchmark decontamination: flag training documents sharing 3-gram "
    "shingles with a held-out eval set (docs with doc_id % 100 == 0 stand "
    "in for the benchmark). The eval shingle vocabulary is tiny and "
    "broadcasts; training shingles stream map-side through the broadcast "
    "hash join, so the only shuffle is the per-doc overlap count — at "
    "100 TB the eval set is still KBs and the plan shape is unchanged. "
    "Per-doc shingle arrays are distinct, so COUNT(*) counts distinct "
    "overlapping shingles.",
)
def decontaminate_ngram_overlap(spark: SparkSession, sf: str) -> DataFrame:
    return _contamination(*_decontam_parts(spark, sf))


@query(
    "sample_quota_per_lang",
    oracle="""
    SELECT doc_id, lang, n_chars, rk FROM (
      SELECT doc_id, lang, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY n_chars DESC, doc_id ASC) AS rk
      FROM documents
    ) WHERE rk <= 20
    """,
    section="2.10",
    doc="Per-language quota curation: keep the 20 longest documents per "
    "language (n_chars standing in for a quality score) — the "
    "class-balancing step of corpus assembly. top-k-per-group via "
    "partitioned row_number; deterministic tie-break on doc_id.",
)
def sample_quota_per_lang(spark: SparkSession, sf: str) -> DataFrame:
    w = Window.partitionBy("lang").orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
    return (
        T(spark, sf, "documents")
        .select("doc_id", "lang", "n_chars", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= 20)
    )


_PII_EMAIL = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
_PII_PHONE = "\\+[0-9][0-9-]{6,}"


@query(
    "text_scrub_pii",
    oracle=f"""
    WITH synth AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0
                  THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                       || '@example.com or +1-555-'
                       || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  ELSE text END AS text
      FROM documents
    )
    SELECT doc_id,
           md5(regexp_replace(regexp_replace(text, '{_PII_EMAIL}', '<email>', 'g'),
                              '{_PII_PHONE}', '<phone>', 'g')) AS scrubbed_md5,
           regexp_replace(regexp_replace(text, '{_PII_EMAIL}', '<email>', 'g'),
                          '{_PII_PHONE}', '<phone>', 'g') <> text AS had_pii
    FROM synth
    """,
    section="2.10",
    doc="PII scrubbing: replace emails and phone numbers with placeholder "
    "tags. The corpus is synthetic word-soup, so every 5th document gets a "
    "deterministic synthetic email+phone appended first (both engines "
    "synthesize identically); the scrub itself is two chained "
    "regexp_replace calls — per-row, codegen'd, zero shuffle. Output is "
    "the scrubbed-text digest so the hash check verifies the full scrubbed "
    "string without shipping it.",
)
def text_scrub_pii(spark: SparkSession, sf: str) -> DataFrame:
    d = T(spark, sf, "documents")
    synth = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise(F.col("text"))
    scrubbed = F.regexp_replace(
        F.regexp_replace(synth, _PII_EMAIL, "<email>"), _PII_PHONE, "<phone>"
    )
    return d.select(
        "doc_id",
        F.md5(scrubbed).alias("scrubbed_md5"),
        (scrubbed != synth).alias("had_pii"),
    )


@query(
    "line_dedup_global",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 3 = 0
    ),
    toks AS (SELECT doc_id, {_O_TOKENS} AS w FROM corpus),
    chunks AS (
      SELECT doc_id,
             list_transform(range(1, CAST(ceil(len(w) / 5.0) AS BIGINT) + 1),
                            i -> {{'pos': i,
                                  'line': array_to_string(list_slice(w, (i-1)*5 + 1, i*5), ' ')}}) AS cs
      FROM toks
    ),
    lines AS (
      SELECT doc_id, unnest(cs, recursive := true) FROM chunks
    ),
    freq AS (SELECT line, COUNT(*) AS n FROM lines GROUP BY line)
    SELECT l.doc_id,
           string_agg(l.line, ' ' ORDER BY l.pos) AS kept_text,
           COUNT(*) AS n_kept
    FROM lines l JOIN freq f USING (line)
    WHERE f.n = 1
    GROUP BY l.doc_id
    """,
    section="2.10",
    doc="C4/RefinedWeb-style global line dedup: split each document into "
    "5-token 'lines', drop every line whose exact text occurs more than "
    "once ACROSS THE CORPUS (boilerplate removal — headers, footers, "
    "licence blocks), and reassemble the survivors in original order "
    "(corpus = documents + a re-union of every 3rd doc, so duplicated "
    "docs' lines deterministically vanish). Two shuffles at any scale: "
    "the global line-frequency aggregate and the per-doc reassembly; the "
    "line-frequency table is Zipf-shaped, so at 100 TB the hot "
    "boilerplate lines are exactly the keys AQE's skew handling splits.",
)
def line_dedup_global(spark: SparkSession, sf: str) -> DataFrame:
    base = T(spark, sf, "documents")
    corpus = base.select("doc_id", "text").unionByName(
        base.filter(F.col("doc_id") % 3 == 0).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
        )
    )
    # Tokenize behind a barrier before the per-chunk lambda (the
    # dedup_substring_ngrams lesson: inlined token expressions re-run
    # the regex per chunk, O(len^2) per doc).
    tok_df = corpus.select("doc_id", _tokens().alias("w")).localCheckpoint(eager=False)
    w = F.col("w")
    chunks = F.transform(
        F.sequence(F.lit(1), F.ceil(F.size(w) / F.lit(5.0)).cast("long")),
        lambda i: F.struct(
            i.alias("pos"),
            F.concat_ws(" ", F.slice(w, (i - 1) * 5 + 1, 5)).alias("line"),
        ),
    )
    lines = tok_df.select("doc_id", F.explode(chunks).alias("c")).select(
        "doc_id", F.col("c.pos").alias("pos"), F.col("c.line").alias("line")
    )
    freq = lines.groupBy("line").agg(F.count(F.lit(1)).alias("n"))
    kept = lines.join(freq, "line").filter(F.col("n") == 1)
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "line"))), lambda s: s["line"]
    )
    return kept.groupBy("doc_id").agg(
        F.concat_ws(" ", ordered).alias("kept_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )


# ---------------------------------------------------------------------------
# Duplicate-group clustering (pairs -> components -> canonical survivors)
# ---------------------------------------------------------------------------
#
# The corpus here has THREE generations per selected doc (original, first 3
# tokens dropped, first 6 dropped) so duplicate groups have size 3 and the
# pair graph is a path or triangle — component membership genuinely requires
# transitive closure, not just pair lookup. The oracle computes the same
# components with a DuckDB recursive CTE (min-label reachability).

_O_CC = f"""
    corpus3 AS (
      SELECT doc_id, {_O_TOKENS} AS w FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, list_slice({_O_TOKENS}, 4, len({_O_TOKENS})) AS w
      FROM documents WHERE doc_id % 3 = 0
      UNION ALL
      SELECT doc_id + 2000000 AS doc_id, list_slice({_O_TOKENS}, 7, len({_O_TOKENS})) AS w
      FROM documents WHERE doc_id % 3 = 0
    ),
    t3 AS (
      SELECT doc_id, {_O_SHINGLES.format(w='w')} AS sh, len(w) AS n_tokens
      FROM corpus3 WHERE doc_id % 1000000 < {_JACCARD_CAP}
    ),
    ex AS (SELECT doc_id, unnest(sh) AS s FROM t3),
    cand AS (
      SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS inter
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    e AS (
      SELECT c.a, c.b
      FROM cand c
      JOIN t3 sa ON sa.doc_id = c.a
      JOIN t3 sb ON sb.doc_id = c.b
      WHERE CAST(c.inter AS DOUBLE) / (len(sa.sh) + len(sb.sh) - c.inter) >= 0.8
    ),
    sym AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
    walk(node, lbl) AS (
      SELECT doc_id, doc_id FROM t3
      UNION
      SELECT s.b, w.lbl FROM walk w JOIN sym s ON s.a = w.node WHERE w.lbl < s.b
    ),
    comp AS (SELECT node AS doc_id, MIN(lbl) AS component_id FROM walk GROUP BY node)
"""


def _cc_parts(spark: SparkSession, sf: str) -> tuple[DataFrame, DataFrame]:
    """(shingled 3-generation corpus with token counts, doc-level component
    assignment) — shared by the two duplicate-group queries."""
    from etl_covid19_brasil_spark.operators.concomp import connected_components

    t3 = _shingle_sets(
        _near_dup_corpus(spark, sf, drops=(3, 6)), F.size("w").cast("long").alias("n_tokens")
    )
    # candidate pairs: the shared posting-list join (see _posting_pairs)
    edges = (
        _posting_pairs(t3.select("doc_id", "sh"))
        .filter(
            F.col("inter").cast("double")
            / (F.col("sa.sz") + F.col("sb.sz") - F.col("inter"))
            >= 0.8
        )
        .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    comp = connected_components(edges, nodes=t3, node_col="doc_id").select(
        F.col("node").alias("doc_id"), "component_id"
    )
    return t3, comp


@query(
    "dedup_connected_components",
    oracle=f"""
    WITH RECURSIVE {_O_CC}
    SELECT doc_id, component_id,
           COUNT(*) OVER (PARTITION BY component_id) AS component_size
    FROM comp
    """,
    section="2.10",
    doc="Duplicate-GROUP assignment: exact-Jaccard pairs (>=0.8) over the "
    "3-generation corpus, clustered into connected components via "
    "alternating large-star/small-star contraction "
    "(operators/concomp.py; Kiveris et al. SoCC'14) — O(log^2 n) rounds, "
    "two (node, candidate-root) shuffles per round, no neighborhood "
    "lists — finished by one union-find on the driver once the edge "
    "set fits operators.concomp.DRIVER_FINISH_EDGES. Every doc gets a "
    "row (singletons are their own component). "
    "The oracle recomputes components as min-label reachability with a "
    "recursive CTE. Component ids are component-minimum doc ids — "
    "engine-independent.",
)
def dedup_connected_components(spark: SparkSession, sf: str) -> DataFrame:
    _, comp = _cc_parts(spark, sf)
    return comp.select(
        "doc_id",
        "component_id",
        F.count(F.lit(1))
        .over(Window.partitionBy("component_id"))
        .alias("component_size"),
    )


@query(
    "dedup_canonical_pick",
    oracle=f"""
    WITH RECURSIVE {_O_CC},
    ranked AS (
      SELECT c.doc_id, c.component_id, t3.n_tokens,
             ROW_NUMBER() OVER (
               PARTITION BY c.component_id
               ORDER BY t3.n_tokens DESC, c.doc_id) AS rk
      FROM comp c JOIN t3 USING (doc_id)
    )
    SELECT component_id,
           COUNT(*) AS n_members,
           MAX(CASE WHEN rk = 1 THEN doc_id END) AS canonical_doc_id,
           MAX(CASE WHEN rk = 1 THEN n_tokens END) AS canonical_n_tokens
    FROM ranked GROUP BY component_id
    """,
    section="2.10",
    doc="Duplicate-group MANIFEST: per component, the member count and the "
    "canonical survivor (longest token count, ties to the smallest "
    "doc_id — a deterministic total order). This is the output a dedup "
    "pipeline joins back against the corpus to drop the other members. "
    "Same component computation as dedup_connected_components plus one "
    "row_number window and one doc_id-keyed aggregation.",
)
def dedup_canonical_pick(spark: SparkSession, sf: str) -> DataFrame:
    t3, comp = _cc_parts(spark, sf)
    sized = comp.join(t3.select("doc_id", "n_tokens"), "doc_id")
    w = Window.partitionBy("component_id").orderBy(F.desc("n_tokens"), F.asc("doc_id"))
    ranked = sized.withColumn("rk", F.row_number().over(w))
    return ranked.groupBy("component_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.max(F.when(F.col("rk") == 1, F.col("doc_id"))).alias("canonical_doc_id"),
        F.max(F.when(F.col("rk") == 1, F.col("n_tokens"))).alias("canonical_n_tokens"),
    )


# ---------------------------------------------------------------------------
# Embedding transforms: quantization + dimensionality reduction
# ---------------------------------------------------------------------------

# Deterministic pseudo-random sign for the projection matrix, computable
# identically in Spark and DuckDB with plain bigint arithmetic (i is the
# 1-based input dimension, j the output dimension). Knuth-style mix then
# mod-bucket; constants chosen so no (i, j) parity artifact survives.
_SIGN_SQL = "(CASE WHEN (({i} * 73 + {j} * 179 + 7) * 2654435761) % 1000 < 500 THEN 1.0 ELSE -1.0 END)"
_RP_K = 8


def _rp_sign(i: F.Column, j: int) -> F.Column:
    mixed = (i * 73 + F.lit(j) * 179 + 7) * F.lit(2654435761) % 1000
    return F.when(mixed < 500, F.lit(1.0)).otherwise(F.lit(-1.0))


@query(
    "embedding_quantize_int8",
    oracle="""
    WITH s AS (
      SELECT vec_id, label, embedding,
             CAST(list_aggregate(embedding, 'min') AS DOUBLE) AS mn,
             CAST(list_aggregate(embedding, 'max') AS DOUBLE) AS mx
      FROM embeddings
    )
    SELECT vec_id, label, mn AS scale_min, mx AS scale_max,
           array_to_string(
             CASE WHEN mx = mn
                  THEN list_transform(embedding, x -> 0)
                  ELSE list_transform(embedding,
                         x -> CAST(round((CAST(x AS DOUBLE) - mn) * 255.0 / (mx - mn)) AS INTEGER))
             END, ',') AS q
    FROM s
    """,
    section="2.10",
    doc="Affine int8 quantization of the embedding column (per-vector "
    "min/max range, 0..255 codes + the two reconstruction scalars) — the "
    "standard 4x storage shrink before an ANN index is built over a "
    "100 TB vector corpus. Pure map-side lambdas, no shuffle. The "
    "quantized codes are integers produced by one identical IEEE "
    "expression in both engines, so they hash-match exactly; constant "
    "vectors degrade to all-zero codes rather than dividing by zero.",
)
def embedding_quantize_int8(spark: SparkSession, sf: str) -> DataFrame:
    e = T(spark, sf, "embeddings")
    mn = F.array_min("embedding").cast("double")
    mx = F.array_max("embedding").cast("double")
    s = e.select("vec_id", "label", "embedding", mn.alias("mn"), mx.alias("mx"))
    q = F.when(
        F.col("mx") == F.col("mn"),
        F.transform(F.col("embedding"), lambda x: F.lit(0)),
    ).otherwise(
        F.transform(
            F.col("embedding"),
            lambda x: F.round(
                (x.cast("double") - F.col("mn")) * 255.0 / (F.col("mx") - F.col("mn"))
            ).cast("int"),
        )
    )
    # Codes are emitted as a comma-joined string: driver-side result
    # canonicalization sorts every output column, and array cells are
    # unhashable there — scalar columns only in checked query outputs.
    return s.select(
        "vec_id",
        "label",
        F.col("mn").alias("scale_min"),
        F.col("mx").alias("scale_max"),
        F.array_join(q.cast("array<string>"), ",").alias("q"),
    )


def _rp_oracle_cols() -> str:
    cols = []
    for j in range(_RP_K):
        sgn = _SIGN_SQL.format(i="i", j=j)
        cols.append(
            "list_reduce(list_transform(range(1, len(embedding) + 1), "
            f"i -> {sgn} * CAST(embedding[i] AS DOUBLE)), (x, y) -> x + y) AS proj_{j}"
        )
    return ",\n           ".join(cols)


@query(
    "embedding_random_projection",
    oracle=f"""
    SELECT vec_id, label,
           {_rp_oracle_cols()}
    FROM embeddings
    """,
    section="2.10",
    doc=f"Random-projection dimensionality reduction 64 -> {_RP_K} with a "
    "HASH-DERIVED sign matrix (no materialized matrix, no driver state: "
    "each cell's ±1 is recomputed from (input_dim, output_dim) with "
    "integer arithmetic — the same trick the LSH tier uses for its "
    "hyperplanes). Per output dim, one ordered fold of ±x_i (identical "
    "IEEE sequence both engines -> bit-identical doubles). Map-side "
    "only; at 100 TB this is the cheap pre-step that makes downstream "
    "clustering/ANN 8x narrower.",
)
def embedding_random_projection(spark: SparkSession, sf: str) -> DataFrame:
    e = T(spark, sf, "embeddings")
    emb = F.col("embedding")

    def proj(j: int) -> F.Column:
        terms = F.transform(emb, lambda x, i: _rp_sign(i + 1, j) * x.cast("double"))
        return F.aggregate(terms, F.lit(0.0), lambda acc, t: acc + t).alias(f"proj_{j}")

    return e.select("vec_id", "label", *[proj(j) for j in range(_RP_K)])


_OOV_VOCAB_K = 10


@query(
    "text_oov_rate",
    oracle=f"""
    WITH toks AS (SELECT doc_id, unnest({_O_TOKENS}) AS token FROM documents),
    freq AS (SELECT token, COUNT(*) AS n FROM toks GROUP BY token),
    vocab AS (SELECT token FROM freq ORDER BY n DESC, token ASC LIMIT {_OOV_VOCAB_K}),
    flagged AS (
      SELECT t.doc_id, (v.token IS NULL) AS is_oov
      FROM toks t LEFT JOIN vocab v ON t.token = v.token
    )
    SELECT doc_id,
           COUNT(*) AS n_tokens,
           COUNT(*) FILTER (WHERE is_oov) AS n_oov,
           CAST(COUNT(*) FILTER (WHERE is_oov) AS DOUBLE) / COUNT(*) AS oov_rate
    FROM flagged GROUP BY doc_id
    """,
    section="2.10",
    doc=f"Out-of-vocabulary rate against a corpus-derived top-{_OOV_VOCAB_K} "
    "vocabulary — the two-pass shape every tokenizer-fit / quality-"
    "scoring pipeline runs: pass 1 aggregates global token frequencies "
    "(one shuffle, partial aggregation absorbs Zipf-hot tokens "
    "map-side), the top-K list is then BROADCAST (it is vocabulary-"
    "sized, never corpus-sized) so pass 2 tags tokens without a second "
    "corpus shuffle beyond the per-doc rollup. Vocabulary ties break on "
    "the token string -> fully deterministic; rates are integer ratios.",
)
def text_oov_rate(spark: SparkSession, sf: str) -> DataFrame:
    d = T(spark, sf, "documents")
    toks = d.select("doc_id", F.explode(_tokens()).alias("token"))
    freq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    vocab = freq.orderBy(F.desc("n"), F.asc("token")).limit(_OOV_VOCAB_K).select("token")
    flagged = toks.join(
        F.broadcast(vocab.withColumn("in_vocab", F.lit(True))), "token", "left"
    ).select("doc_id", F.col("in_vocab").isNull().alias("is_oov"))
    n_oov = F.count(F.when(F.col("is_oov"), 1))
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        n_oov.alias("n_oov"),
        (n_oov.cast("double") / F.count(F.lit(1))).alias("oov_rate"),
    )


@query(
    "text_unigram_logprob",
    oracle=f"""
    WITH toks AS (SELECT doc_id, unnest({_O_TOKENS}) AS token FROM documents),
    freq AS (SELECT token, COUNT(*) AS n FROM toks GROUP BY token),
    total AS (SELECT CAST(SUM(n) AS BIGINT) AS big_n FROM freq),
    scored AS (
      SELECT token,
             CAST(floor(ln(CAST(big_n AS DOUBLE) / n) * 1000000 + 0.5)
               AS BIGINT) AS nll_u6
      FROM freq, total
    )
    SELECT t.doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(s.nll_u6) AS BIGINT) AS nll_sum_u6,
           CAST(SUM(s.nll_u6) // COUNT(*) AS BIGINT) AS avg_nll_u6
    FROM toks t JOIN scored s ON t.token = s.token
    GROUP BY t.doc_id
    """,
    section="2.10",
    doc="Unigram negative-log-likelihood quality score — the in-engine "
    "proxy for the CCNet/KenLM perplexity filter: pass 1 fits the "
    "unigram model (one token-frequency shuffle, same as text_oov_rate); "
    "each token's -ln p(token) is quantized to INTEGER micro-nats "
    "(the fn_math floor(x*1e6 + 0.5) policy) BEFORE the per-document "
    "sum, so the aggregation is associative integer arithmetic — a "
    "double sum would hash-drift with summation order across engines "
    "and partitionings. The scored vocabulary broadcasts into pass 2 "
    "(vocabulary-sized, never corpus-sized); high avg_nll_u6 = "
    "improbable token stream = the gibberish/boilerplate tail a corpus "
    "curation pass drops.",
)
def text_unigram_logprob(spark: SparkSession, sf: str) -> DataFrame:
    d = T(spark, sf, "documents")
    toks = d.select("doc_id", F.explode(_tokens()).alias("token"))
    freq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    total = freq.agg(F.sum("n").cast("long").alias("big_n"))
    scored = freq.crossJoin(F.broadcast(total)).select(
        "token",
        F.floor(F.log(F.col("big_n").cast("double") / F.col("n")) * 1000000 + 0.5)
        .cast("long")
        .alias("nll_u6"),
    )
    # No broadcast hint on the scored vocabulary: Heaps'-law growth is
    # sublinear but unbounded, so a pinned hint eventually materializes
    # a multi-GB table on every executor (the minhash-OOM class of bug,
    # r7 audit). Hint-free, AQE broadcasts from REAL sizes while the
    # vocab fits and falls back to a linear token shuffle when it
    # doesn't; the capped-vocab variant of this pattern is
    # text_oov_rate (top-K vocabulary, always broadcastable).
    return (
        toks.join(scored, "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("nll_u6").alias("nll_sum_u6"),
            F.expr("sum(nll_u6) div count(*)").alias("avg_nll_u6"),
        )
    )


@query(
    "bpe_pair_counts",
    oracle=f"""
    WITH toks AS (SELECT unnest({_O_TOKENS}) AS t FROM documents),
    pairs AS (
      SELECT unnest(list_transform(range(1, length(t)), i -> substr(t, i, 2))) AS pair
      FROM toks WHERE length(t) >= 2
    )
    SELECT pair, COUNT(*) AS n
    FROM pairs GROUP BY pair HAVING COUNT(*) >= 5
    """,
    section="2.10",
    doc="BPE merge statistics — the corpus-scale half of tokenizer "
    "training: count adjacent symbol pairs inside every token occurrence "
    "(the quantity byte-pair encoding maximizes per merge; Sennrich et "
    "al. 2016). One explode chain (token -> in-token character pairs) "
    "feeding one count shuffle with map-side partial aggregation — at "
    "100 TB the pair vocabulary is tiny relative to the corpus, so the "
    "shuffle carries (pair, partial-count) rows only. The merge-loop "
    "driver that consumes these counts is sequential by nature and "
    "stays outside the engine; each iteration re-runs this profile.",
)
def bpe_pair_counts(spark: SparkSession, sf: str) -> DataFrame:
    d = T(spark, sf, "documents")
    toks = d.select(F.explode(_tokens()).alias("t"))
    idx = F.sequence(F.lit(1), F.length("t") - 1)
    grams = F.when(
        F.length("t") >= 2,
        F.transform(idx, lambda i: F.col("t").substr(i, F.lit(2))),
    ).otherwise(F.array().cast("array<string>"))
    return (
        toks.select(F.explode(grams).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 5)
    )


@query(
    "text_entropy",
    oracle=f"""
    WITH chars AS (
      SELECT doc_id,
             unnest(string_split_regex(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), '')) AS ch
      FROM documents
    ),
    freq AS (SELECT doc_id, ch, COUNT(*) AS n FROM chars GROUP BY doc_id, ch),
    tot AS (SELECT doc_id, SUM(n) AS total FROM freq GROUP BY doc_id)
    SELECT f.doc_id,
           CAST(t.total AS BIGINT) AS n_chars_used,
           COUNT(*) AS alphabet_size,
           round(-SUM((CAST(f.n AS DOUBLE) / t.total)
                      * log2(CAST(f.n AS DOUBLE) / t.total)), 6) AS char_entropy_bits
    FROM freq f JOIN tot t USING (doc_id)
    GROUP BY f.doc_id, t.total
    """,
    section="2.10",
    doc="Per-document character-distribution Shannon entropy — the cheap "
    "gibberish/compression-quality signal (low entropy = repeated "
    "boilerplate, high = random noise; natural text sits in a band). "
    "Explode to (doc, char) pairs, one doc-keyed count shuffle, entropy "
    "as a sum over the per-doc alphabet (<=36 symbols). log2 follows "
    "the house transcendental policy (fn_math): engines agree to ~1 "
    "ulp, rounded to 6 decimals.",
)
def text_entropy(spark: SparkSession, sf: str) -> DataFrame:
    d = T(spark, sf, "documents")
    chars = d.select(
        "doc_id",
        F.explode(
            F.split(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]", ""), "")
        ).alias("ch"),
    ).filter(F.col("ch") != "")
    freq = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("n"))
    tot = freq.groupBy("doc_id").agg(F.sum("n").alias("total"))
    p = F.col("n").cast("double") / F.col("total")
    return (
        freq.join(tot, "doc_id")
        .groupBy("doc_id", "total")
        .agg(
            F.count(F.lit(1)).alias("alphabet_size"),
            F.round(-F.sum(p * F.log2(p)), 6).alias("char_entropy_bits"),
        )
        .select(
            "doc_id",
            F.col("total").cast("long").alias("n_chars_used"),
            "alphabet_size",
            "char_entropy_bits",
        )
    )


@query(
    "ann_ivf_trained",
    oracle=None,  # approximate by construction -> rows-only
    section="2.10",
    doc="IVF with TRAINED centroids: llm/ann.py:kmeans_lloyd runs "
    "distributed Lloyd sweeps in-engine (broadcast-centroid Arrow "
    "assignment, (cell, dim) partial-sum shuffle, k*dim driver "
    "collect) and the resulting coarse quantizer drives the same "
    "ivf_topk plan. Trained cells track the data distribution, so "
    "probing the same n_probe cells recovers more true neighbors than "
    "the model-free seed centroids (floor pinned in "
    "tests/test_ann_recall.py).",
)
def ann_ivf_trained(spark: SparkSession, sf: str) -> DataFrame:
    from etl_covid19_brasil_spark.llm.ann import auto_n_cells, ivf_topk, kmeans_lloyd
    from etl_covid19_brasil_spark.llm.similarity import _estimate_rows

    e = T(spark, sf, "embeddings")
    # cell count must track corpus size like the library default does —
    # a fixed k=16 here silently reintroduced quadratic per-cell kernels
    # at 32x in the r7 scale probe (the registry-wrapper-bypass failure
    # mode r6 documented for LSH planes).
    cents = kmeans_lloyd(e, k=auto_n_cells(_estimate_rows(e)), iters=3)
    # n_probe library-default too (auto_n_probe holds the probed
    # fraction as cells grow — the r10 fixed-probe recall decay).
    return ivf_topk(e, k=5, centroids=cents)


@query(
    "embedding_pq_codes",
    oracle=None,  # codebooks are trained (data-dependent floats) -> rows-only
    section="2.10",
    doc="Product quantization (llm/ann.py:pq_train/pq_encode): 8 subspace "
    "codebooks of 16 centroids, trained on a bounded deterministic "
    "hash-sample (the faiss recipe — training is O(sample), never "
    "O(corpus)), then every vector encodes map-side to 8 byte codes + "
    "its reconstruction error. 64 doubles -> 8 bytes is the storage "
    "step that makes a 100 TB vector corpus indexable; quality is "
    "pinned in tests/test_ann_recall.py (PQ reconstruction must beat "
    "the global-mean baseline by a wide margin).",
)
def embedding_pq_codes(spark: SparkSession, sf: str) -> DataFrame:
    from etl_covid19_brasil_spark.llm.ann import pq_encode, pq_train

    e = T(spark, sf, "embeddings")
    books = pq_train(e, m=8, k=16, iters=8)
    # Byte codes join to a scalar string (no array cells in checked outputs).
    return pq_encode(e, books).select(
        "vec_id",
        F.array_join(F.col("codes").cast("array<string>"), ",").alias("codes"),
        "recon_mse",
    )


# target mixture for corpus_mix_weighted: rebalance the en-heavy corpus
# toward a flatter distribution, within a 60%-of-corpus token budget.
_MIX_W = {"en": 0.30, "zh": 0.20, "es": 0.20, "de": 0.15, "fr": 0.15}
_MIX_BUDGET_FRAC = 0.6
_MIX_W_SQL = "CASE lang " + " ".join(
    f"WHEN '{k}' THEN {v}" for k, v in _MIX_W.items()
) + " ELSE 0.0 END"


@query(
    "corpus_mix_weighted",
    oracle=f"""
    WITH ranked AS (
      SELECT lang, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS rk
      FROM documents
    ),
    budget AS (SELECT CAST(round(COUNT(*) * {_MIX_BUDGET_FRAC}) AS BIGINT) AS b
               FROM documents)
    SELECT lang,
           CAST(round(({_MIX_W_SQL}) * b) AS BIGINT) AS quota,
           COUNT(*) AS n_taken,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM ranked, budget
    WHERE rk <= CAST(round(({_MIX_W_SQL}) * b) AS BIGINT)
    GROUP BY lang, b
    """,
    section="2.10",
    doc="Dataset MIXING to target proportions: a token/doc budget is split "
    "across domains by declared weights, and each domain contributes its "
    "quota chosen in content-hash order (md5-ranked — deterministic "
    "pseudo-random, reproducible across engines, reruns, and "
    "partitionings; rand() is none of those). Domains short of quota "
    "contribute what they have. One per-domain window shuffle — the "
    "standard recipe for reweighting an en-heavy crawl toward a "
    "training mixture. Summary output (quota, taken, chars) per domain.",
)
def corpus_mix_weighted(spark: SparkSession, sf: str) -> DataFrame:
    d = T(spark, sf, "documents")
    w = Window.partitionBy("lang").orderBy(F.md5("text"), F.asc("doc_id"))
    weight = F.lit(None)
    expr = None
    for k, v in _MIX_W.items():
        expr = F.when(F.col("lang") == k, v) if expr is None else expr.when(F.col("lang") == k, v)
    weight = expr.otherwise(0.0)
    budget = d.agg(
        F.round(F.count(F.lit(1)) * _MIX_BUDGET_FRAC).cast("long").alias("b")
    )
    ranked = d.select("doc_id", "lang", "n_chars", "text").withColumn(
        "rk", F.row_number().over(w)
    )
    quota = F.round(weight * F.col("b")).cast("long")
    return (
        ranked.crossJoin(F.broadcast(budget))
        .filter(F.col("rk") <= quota)
        .groupBy("lang", quota.alias("quota"))
        .agg(
            F.count(F.lit(1)).alias("n_taken"),
            F.sum("n_chars").alias("total_chars"),
        )
        .select("lang", "quota", "n_taken", "total_chars")
    )


@query(
    "ann_ivfpq_topk",
    oracle=None,  # approximate by construction -> rows-only
    section="2.10",
    doc="IVF-PQ approximate nearest neighbors (llm/ann.py:ivfpq_topk): "
    "candidates meet in trained IVF cells, the index side carries only "
    "8 one-byte PQ codes per vector (64x smaller than raw float64), and "
    "queries score candidates via per-subspace asymmetric-distance "
    "lookup tables — the faiss IVFPQ layout on DataFrames — and the "
    "surviving rerank*k candidates per query join back to exact vectors "
    "for a final exact-cosine re-rank (two-stage retrieval). The "
    "memory-bounded tier for vector corpora that outgrow float storage; "
    "recall >= 0.8 pinned in tests/test_ann_recall.py.",
)
def ann_ivfpq_topk(spark: SparkSession, sf: str) -> DataFrame:
    from etl_covid19_brasil_spark.llm.ann import ivfpq_topk

    # n_cells AND n_probe stay library-default (auto_n_cells +
    # auto_n_probe) — fixed counts reintroduce quadratic cells /
    # the r10 fixed-probe recall decay at scale.
    return ivfpq_topk(T(spark, sf, "embeddings"), k=5)


@query(
    "text_clean_repeated_lines",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_O_TOKENS} AS w FROM documents),
    lines AS (
      SELECT doc_id, i AS pos,
             array_to_string(list_slice(w, (i-1)*5 + 1, i*5), ' ') AS line
      FROM toks, unnest(range(1, CAST(ceil(len(w) / 5.0) AS BIGINT) + 1)) AS t(i)
    ),
    firsts AS (
      SELECT doc_id, pos, line,
             ROW_NUMBER() OVER (PARTITION BY doc_id, line ORDER BY pos) AS occ
      FROM lines
    )
    SELECT doc_id,
           COUNT(*) AS n_kept,
           string_agg(line, ' ' ORDER BY pos) AS cleaned_text
    FROM firsts WHERE occ = 1
    GROUP BY doc_id
    """,
    section="2.10",
    doc="WITHIN-document repeated-line removal — the cleaning twin of the "
    "Gopher dup_line_frac SIGNAL (text_repetition_signals measures, this "
    "repairs): keep each distinct 5-token pseudo-line's first occurrence "
    "in position order and reassemble the document. All state is "
    "per-document (window + ordered group-concat on doc_id keys), so "
    "unlike line_dedup_global there is no corpus-wide frequency table — "
    "one doc-keyed shuffle at any scale.",
)
def text_clean_repeated_lines(spark: SparkSession, sf: str) -> DataFrame:
    d = T(spark, sf, "documents").select("doc_id", _tokens().alias("w"))
    chunks = F.transform(
        F.sequence(F.lit(1), F.ceil(F.size("w") / F.lit(5.0)).cast("long")),
        lambda i: F.struct(
            i.alias("pos"),
            F.concat_ws(" ", F.slice(F.col("w"), (i - 1) * 5 + 1, 5)).alias("line"),
        ),
    )
    lines = d.select("doc_id", F.explode(chunks).alias("c")).select(
        "doc_id", F.col("c.pos").alias("pos"), F.col("c.line").alias("line")
    )
    w = Window.partitionBy("doc_id", "line").orderBy("pos")
    firsts = lines.withColumn("occ", F.row_number().over(w)).filter(F.col("occ") == 1)
    return firsts.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.expr("listagg(line, ' ') WITHIN GROUP (ORDER BY pos)").alias("cleaned_text"),
    )


# ---------------------------------------------------------------------------
# Relevance ranking (TF-IDF / BM25) — the retrieval side of a corpus engine
# ---------------------------------------------------------------------------

_RANK_TERMS = ("join", "vector", "stream", "filter")
_RT_SQL = "(" + ", ".join(f"'{t}'" for t in _RANK_TERMS) + ")"

# BM25 per-(doc, term) weight (k1=1.2, b=0.75), quantized to integer
# micro-units BEFORE the per-doc sum. The SAME expression string runs in
# Spark SQL and DuckDB: both parse it to the identical left-associative
# IEEE op tree over integer-derived doubles, so the double arithmetic is
# bit-identical per row and the aggregation is associative integer math
# (the fn_math / text_unigram_logprob quantization policy).
_BM25_W_U6 = (
    "CAST(floor("
    "ln(1.0 + (CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))"
    " * (CAST(tf AS DOUBLE) * 2.2)"
    " / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *"
    " (CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))"
    " * 1000000.0 + 0.5) AS BIGINT)"
)


@query(
    "rank_tfidf_topk",
    oracle=f"""
    WITH toks AS (SELECT doc_id, unnest({_O_TOKENS}) AS token FROM documents
                  ),
    qtoks AS (SELECT doc_id, token FROM toks WHERE token IN {_RT_SQL}),
    n_total AS (SELECT COUNT(*) AS n_docs FROM documents),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM qtoks GROUP BY doc_id, token),
    df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM qtoks GROUP BY token),
    scored AS (
      SELECT tf.doc_id,
             tf.tf * CAST(floor(ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE))
                      * 1000000.0 + 0.5) AS BIGINT) AS w_u6
      FROM tf JOIN df ON tf.token = df.token, n_total
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(SUM(w_u6) AS BIGINT) AS score_u6
    FROM scored GROUP BY doc_id
    ORDER BY score_u6 DESC, doc_id LIMIT 10
    """,
    section="2.10",
    doc="TF-IDF top-10 retrieval for a fixed term set — the ranking half "
    "of a corpus search engine. idf = ln(N/df) is quantized to integer "
    "micro-units per TERM (vocabulary-sized table, broadcast), so the "
    "per-document score tf*idf_u6 is exact integer arithmetic — "
    "hash-stable across engines. Scale shape: the term filter prunes "
    "the exploded token stream BEFORE both aggregations, df and the "
    "1-row corpus count broadcast into the scoring join, and the final "
    "ranking is a TakeOrderedAndProject (top-k short-circuit), never a "
    "global sort.",
)
def rank_tfidf_topk(spark: SparkSession, sf: str) -> DataFrame:
    d = T(spark, sf, "documents")
    # r16 optimization round: df derives FROM tf — tf already holds
    # one row per (doc, token), so COUNT(*) per token equals
    # COUNT(DISTINCT doc_id) over the token stream, and the df branch
    # re-aggregates tf's keyed rows (identical subtree — AQE stage
    # reuse serves it from tf's exchange) instead of re-running the
    # explode + a second full-stream distinct shuffle (guide
    # §2.3/§2.4). One corpus tokenize pass instead of two.
    qtoks = d.select("doc_id", F.explode(_tokens()).alias("token")).filter(
        F.col("token").isin(*_RANK_TERMS)
    )
    n_total = d.agg(F.count(F.lit(1)).alias("n_docs"))
    tf = qtoks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(df), "token")
        .crossJoin(F.broadcast(n_total))
        .select(
            "doc_id",
            (
                F.col("tf")
                * F.expr(
                    "CAST(floor(ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE))"
                    " * 1000000.0 + 0.5) AS BIGINT)"
                )
            ).alias("w_u6"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.sum("w_u6").cast("long").alias("score_u6"),
        )
        .orderBy(F.desc("score_u6"), F.asc("doc_id"))
        .limit(10)
    )


@query(
    "rank_bm25_topk",
    oracle=f"""
    WITH toks AS (SELECT doc_id, unnest({_O_TOKENS}) AS token FROM documents),
    stats AS (SELECT COUNT(*) AS n_docs,
                     CAST(SUM(len({_O_TOKENS})) AS BIGINT) AS sum_dl
              FROM documents),
    dls AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks
           WHERE token IN {_RT_SQL} GROUP BY doc_id, token),
    dfs AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM toks
            WHERE token IN {_RT_SQL} GROUP BY token),
    scored AS (
      SELECT tf.doc_id, {_BM25_W_U6} AS w_u6
      FROM tf JOIN dfs ON tf.token = dfs.token
              JOIN dls ON tf.doc_id = dls.doc_id, stats
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(SUM(w_u6) AS BIGINT) AS score_u6
    FROM scored GROUP BY doc_id
    ORDER BY score_u6 DESC, doc_id LIMIT 10
    """,
    section="2.10",
    doc="Okapi BM25 top-10 retrieval (k1=1.2, b=0.75) — the "
    "length-normalized ranking a retrieval-augmented pipeline runs over "
    "its corpus. The per-(doc, term) weight is ONE expression string "
    "evaluated by both engines (identical left-associative IEEE tree "
    "over integer-derived doubles), quantized to micro-units before the "
    "associative integer per-doc sum. Scale shape: document length and "
    "term frequency are both doc-keyed aggregates off one exploded "
    "token stream (two token shuffles, partial-agg absorbed); df and "
    "the 1-row (N, sum_dl) stats broadcast; dl joins tf on the doc key; "
    "final ranking is top-k short-circuit.",
)
def rank_bm25_topk(spark: SparkSession, sf: str) -> DataFrame:
    d = T(spark, sf, "documents")
    # r16 optimization round: the document length is size(tokens) — a
    # map-side projection, so the dedicated dls branch (a full corpus
    # explode + a token-stream shuffle keyed by doc) is gone outright;
    # df derives from tf (one row per (doc, token) already), so its
    # branch re-aggregates tf's keyed rows — an identical subtree AQE
    # stage reuse serves from tf's exchange — instead of re-running
    # the explode + a second full-stream distinct shuffle. Three token
    # passes became one (guide §2.3 shuffle-fewer-bytes, §2.4 share
    # one exchange). Same-session A/B at sf0.1: 1.26→1.22 s min; the
    # structural win is the two deleted corpus passes at scale.
    stats = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(_tokens()).cast("long")).alias("sum_dl"),
    )
    dls = d.select("doc_id", F.size(_tokens()).alias("dl"))
    qtoks = d.select("doc_id", F.explode(_tokens()).alias("token")).filter(
        F.col("token").isin(*_RANK_TERMS)
    )
    tf = qtoks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfs = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(dfs), "token")
        .join(dls, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", F.expr(_BM25_W_U6).alias("w_u6"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.sum("w_u6").cast("long").alias("score_u6"),
        )
        .orderBy(F.desc("score_u6"), F.asc("doc_id"))
        .limit(10)
    )


@query(
    "corpus_vocab_growth",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({_O_TOKENS}) AS token FROM documents),
    first AS (SELECT token, MIN(doc_id) AS doc_id FROM tok GROUP BY token),
    newd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS new_types
             FROM first GROUP BY doc_id)
    SELECT doc_id, new_types,
           CAST(SUM(new_types) OVER (ORDER BY doc_id) AS BIGINT) AS vocab_size
    FROM newd
    """,
    section="2.10",
    doc="Vocabulary growth curve (Heaps' law profile): for each document "
    "position in doc_id order, how many NEVER-SEEN-BEFORE token types it "
    "introduces and the cumulative vocabulary size after it — the "
    "diminishing-returns signal data-mixture planning reads to decide "
    "when a source is exhausted. Plan: explode is map-side; one shuffle "
    "derives each type's first document (min over token), one more "
    "counts new types per document; the cumulative window then runs "
    "over AT MOST |vocabulary| rows (documents introducing nothing "
    "drop out) — domain-bounded, not corpus-bounded, and vocabulary "
    "grows sublinearly (that is the law being measured).",
)
def corpus_vocab_growth(spark: SparkSession, sf: str) -> DataFrame:
    d = T(spark, sf, "documents")
    tok = d.select("doc_id", F.explode(_tokens()).alias("token"))
    first = tok.groupBy("token").agg(F.min("doc_id").alias("doc_id"))
    newd = first.groupBy("doc_id").agg(F.count(F.lit(1)).alias("new_types"))
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    return newd.select(
        "doc_id",
        "new_types",
        F.sum("new_types").over(w).cast("long").alias("vocab_size"),
    )


# Synthetic noisy URLs for canonicalization: mixed-case scheme/host, an
# explicit default port, tracking params and fragments — the variation
# profile of real crawl data. Spark and the oracle build the SAME string
# from orders keys. Regexes avoid backslash escapes entirely ('[?]' not
# '\?') so the pattern text is literally identical under Spark SQL's
# escaped string literals and DuckDB's standard SQL strings.
_URL_RAW_SPARK = (
    "concat('HTTPS://Shop-', cast(o_custkey % 40 as string), "
    "'.Example.COM:443/item/', cast(o_orderkey % 500 as string), "
    "case when o_orderkey % 3 = 0 then '?utm_source=feed&utm_campaign=x' "
    "when o_orderkey % 3 = 1 then '?ref=home&utm_medium=email' "
    "else '' end, "
    "case when o_orderkey % 2 = 0 then '#frag' else '' end)"
)


@query(
    "dedup_url_canonicalize",
    oracle="""
    WITH raw AS (
      SELECT 'HTTPS://Shop-' || (o_custkey % 40) ||
             '.Example.COM:443/item/' || (o_orderkey % 500) ||
             CASE WHEN o_orderkey % 3 = 0 THEN '?utm_source=feed&utm_campaign=x'
                  WHEN o_orderkey % 3 = 1 THEN '?ref=home&utm_medium=email'
                  ELSE '' END ||
             CASE WHEN o_orderkey % 2 = 0 THEN '#frag' ELSE '' END AS u
      FROM orders
    ), nf AS (SELECT u, regexp_replace(u, '#.*$', '') AS v FROM raw),
    qn AS (
      SELECT u, v,
             regexp_replace(regexp_replace(
               regexp_extract(v, '[?]([^#]*)', 1),
               '(^|&)utm_[^&]*', '', 'g'), '^&', '') AS qc
      FROM nf
    ), canon AS (
      SELECT u,
             lower(regexp_extract(v, '^([A-Za-z]+)://', 1)) || '://' ||
             regexp_replace(
               lower(regexp_extract(v, '^[A-Za-z]+://([^/?#]+)', 1)),
               ':443$', '') ||
             regexp_extract(v, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) ||
             CASE WHEN qc <> '' THEN '?' || qc ELSE '' END AS canonical_url
      FROM qn
    )
    SELECT canonical_url,
           CAST(COUNT(DISTINCT u) AS BIGINT) AS n_raw_variants,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM canon GROUP BY canonical_url
    """,
    section="2.10",
    doc="URL canonicalization dedup — the first pass of web-corpus "
    "curation: case-fold scheme and host (NOT path), strip the "
    "protocol-default port, drop fragments, remove utm_* tracking "
    "params while preserving meaningful ones, then group by the "
    "canonical form counting raw variants collapsed into each. Pure "
    "per-row regex projection (codegen'd, zero shuffle) followed by "
    "one hash-aggregate on the canonical key; at crawl scale the "
    "canonical key also becomes the dedup/sharding key so recrawls "
    "land on the same reducer. Regex patterns avoid backslash escapes "
    "so Spark SQL and the DuckDB oracle execute byte-identical "
    "pattern text.",
)
def dedup_url_canonicalize(spark: SparkSession, sf: str) -> DataFrame:
    o = T(spark, sf, "orders")
    u = o.select(F.expr(_URL_RAW_SPARK).alias("u"))
    nf = u.select("u", F.expr("regexp_replace(u, '#.*$', '')").alias("v"))
    qn = nf.select(
        "u",
        "v",
        F.expr(
            "regexp_replace(regexp_replace("
            "regexp_extract(v, '[?]([^#]*)', 1), "
            "'(^|&)utm_[^&]*', ''), '^&', '')"
        ).alias("qc"),
    )
    canon = qn.select(
        "u",
        F.expr(
            "concat("
            "lower(regexp_extract(v, '^([A-Za-z]+)://', 1)), '://', "
            "regexp_replace(lower(regexp_extract(v, '^[A-Za-z]+://([^/?#]+)', 1)), ':443$', ''), "
            "regexp_extract(v, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1), "
            "case when qc <> '' then concat('?', qc) else '' end)"
        ).alias("canonical_url"),
    )
    return canon.groupBy("canonical_url").agg(
        F.countDistinct("u").alias("n_raw_variants"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "near_dedup_embedding_lsh",
    oracle=None,  # approximate recall by construction -> rows-only
    section="2.10",
    doc="LSH-bucketed embedding near-duplicate pairs — the SCALE TWIN of "
    "near_dedup_embedding: the exact tier scores all n^2 pairs "
    "(quadratic by construction — the r7 8x probe measured 39x runtime "
    "at 8x data), while this tier routes the same corpus (embeddings + "
    "perturbed copies of every fourth vector) through the linearized "
    "LSH machinery (llm/ann.py:lsh_pairs_above: auto-scaled planes, "
    "capped multi-probe, salted buckets) and emits canonicalized "
    "(id_a < id_b) pairs with cosine >= 0.9. Emitted cosines are "
    "bit-identical to the exact kernel's (same ordered fold) — only "
    "recall is approximate, pinned >= 0.9 with perfect precision in "
    "tests/test_ann_recall.py.",
)
def near_dedup_embedding_lsh(spark: SparkSession, sf: str) -> DataFrame:
    from etl_covid19_brasil_spark.llm.ann import lsh_pairs_above

    e = T(spark, sf, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )
    mutated = e.filter(F.col("vec_id") % 4 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.concat(
            F.array(F.element_at("e", 1) + F.lit(0.05)),
            F.slice(F.col("e"), F.lit(2), F.size("e") - 1),
        ).alias("e"),
    )
    corpus = e.unionByName(mutated)
    return lsh_pairs_above(corpus, threshold=0.9, id_col="vec_id", vec_col="e")


@query(
    "doc_top_terms_tfidf",
    oracle=f"""
    WITH toks AS (SELECT doc_id, unnest({_O_TOKENS}) AS token FROM documents),
    n_total AS (SELECT COUNT(*) AS n_docs FROM documents),
    tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
           FROM toks GROUP BY doc_id, token),
    dfs AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY token),
    scored AS (
      SELECT tf.doc_id, tf.token,
             tf.tf * CAST(floor(ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE))
                      * 1000000.0 + 0.5) AS BIGINT) AS w_u6
      FROM tf JOIN dfs ON tf.token = dfs.token, n_total
    ),
    ranked AS (
      SELECT doc_id, token, w_u6,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY w_u6 DESC, token ASC) AS rk
      FROM scored
    )
    SELECT doc_id, token, w_u6, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 3
    """,
    section="2.10",
    doc="Per-document keyword extraction: each document's top-3 terms by "
    "tf-idf over the FULL vocabulary (rank_tfidf_topk ranks documents "
    "for fixed query terms; this ranks terms within each document — "
    "the tagging/labeling pass of corpus curation). idf quantized to "
    "integer micro-units per (N, df) pair, so per-doc scores are exact "
    "integer products; deterministic tie-break (weight desc, token "
    "asc). Scale shape: one token shuffle each for tf and df, a "
    "token-keyed join (both sides already token-partitioned), the "
    "1-row count broadcast, then a per-doc window over that doc's "
    "distinct terms only.",
)
def doc_top_terms_tfidf(spark: SparkSession, sf: str) -> DataFrame:
    d = T(spark, sf, "documents")
    toks = d.select("doc_id", F.explode(_tokens()).alias("token"))
    n_total = d.agg(F.count(F.lit(1)).alias("n_docs"))
    tf = toks.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    dfs = toks.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    scored = (
        tf.join(dfs, "token")
        .crossJoin(F.broadcast(n_total))
        .select(
            "doc_id",
            "token",
            (
                F.col("tf")
                * F.expr(
                    "CAST(floor(ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE))"
                    " * 1000000.0 + 0.5) AS BIGINT)"
                )
            ).alias("w_u6"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("w_u6"), F.asc("token"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "token", "w_u6", "rk")
    )


@query(
    "embedding_covariance_milli",
    oracle="""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT)) AS qv
      FROM embeddings
    ),
    comp AS (
      SELECT vec_id, u.i, u.qi
      FROM (SELECT vec_id,
                   list_transform(qv, (x, idx) -> {'i': idx - 1, 'qi': x}) AS ps
            FROM q), unnest(ps) AS t(u)
    ),
    pairs AS (
      SELECT a.i AS i, b.i AS j, a.qi AS qi, b.qi AS qj
      FROM comp a JOIN comp b ON a.vec_id = b.vec_id AND a.i <= b.i
    ),
    sums AS (
      SELECT i, j,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(qi * qj) AS BIGINT) AS sxy,
             CAST(SUM(qi) AS BIGINT) AS sx,
             CAST(SUM(qj) AS BIGINT) AS sy
      FROM pairs GROUP BY i, j
    )
    SELECT i, j, n, n * sxy - sx * sy AS comoment_num
    FROM sums
    """,
    section="2.10",
    doc="Embedding covariance structure (the PCA/whitening prep pass of "
    "embedding-space analysis): every (i <= j) dimension pair's exact "
    "integer co-moment n*Sum(xy) - Sum(x)*Sum(y) over components "
    "quantized to milli-units (floor(x*1000 + 0.5) — pure arithmetic "
    "on identical doubles, no transcendental, so both engines land on "
    "the same integer by construction; divide by n^2 downstream for "
    "the covariance). Scale shape: components explode map-side, the "
    "d^2 pair blowup is absorbed by partial aggregation (the shuffle "
    "carries (i, j) partial sums — d(d+1)/2 keys per partition, not "
    "n*d^2 rows), one hash shuffle total. int64 envelope: |q| <= 1e3, "
    "so n can reach ~1e12 rows before n*sxy overflows.",
)
def embedding_covariance_milli(spark: SparkSession, sf: str) -> DataFrame:
    e = T(spark, sf, "embeddings")
    q = e.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 1000.0 + 0.5).cast("long"),
        ).alias("qv"),
    )
    # Upper-triangle outer product generated INLINE per row (nested
    # positional transform + flatten + explode) instead of a comp
    # self-join on vec_id: the join shape shuffles n*d exploded rows
    # twice before the aggregate, while this shape is join-free — the
    # d(d+1)/2 pair blowup never leaves the map side, partial
    # aggregation reduces it to d^2 keys per partition, and the ONLY
    # shuffle is the final d^2-key hash exchange. (The nested transform
    # re-evaluates the quantize lambda under projection collapse, but
    # that is two arithmetic ops per element — nothing like the r8
    # tokenizer case that needs a materialization barrier.)
    # _spread: the narrow pipeline inherits the scan's partitioning, so
    # a few-file table would run the whole d^2 blowup on a few cores —
    # repartition the n-row side up to cluster parallelism first (a
    # shuffle of n thin rows, nothing at scale where the input already
    # has >= parallelism splits and _spread is a no-op).
    q = _spread(q)
    qv = F.col("qv")
    tri = F.flatten(
        F.transform(
            qv,
            lambda x, i: F.transform(
                F.slice(qv, i + 1, F.size(qv) - i),
                lambda y, jo: F.struct(
                    i.alias("i"),
                    (i + jo).alias("j"),
                    x.alias("x"),
                    y.alias("y"),
                ),
            ),
        )
    )
    pairs = q.select(F.explode(tri).alias("p")).select(
        F.col("p.i").alias("i"),
        F.col("p.j").alias("j"),
        F.col("p.x").alias("qi"),
        F.col("p.y").alias("qj"),
    )
    return (
        pairs.groupBy("i", "j")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("qi") * F.col("qj")).cast("long").alias("sxy"),
            F.sum("qi").cast("long").alias("sx"),
            F.sum("qj").cast("long").alias("sy"),
        )
        .select(
            "i",
            "j",
            "n",
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias(
                "comoment_num"
            ),
        )
    )


@query(
    "text_bigram_logprob",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_O_TOKENS} AS t FROM documents),
    bi AS (
      SELECT doc_id, unnest(list_transform(range(1, len(t)),
                                           i -> t[i] || ' ' || t[i + 1])) AS bg
      FROM toks WHERE len(t) >= 2
    ),
    cbi AS (SELECT bg, COUNT(*) AS c12 FROM bi GROUP BY bg),
    cleft AS (SELECT split_part(bg, ' ', 1) AS w1, CAST(SUM(c12) AS BIGINT) AS c1
              FROM cbi GROUP BY 1),
    scored AS (
      SELECT bg, CAST(floor(ln(CAST(c1 AS DOUBLE) / CAST(c12 AS DOUBLE))
                            * 1000000.0 + 0.5) AS BIGINT) AS nll_u6
      FROM cbi JOIN cleft ON split_part(bg, ' ', 1) = w1
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(nll_u6) AS BIGINT) AS nll_sum_u6,
           CAST(SUM(nll_u6) // COUNT(*) AS BIGINT) AS avg_nll_u6
    FROM bi JOIN scored USING (bg)
    GROUP BY doc_id
    """,
    section="2.10",
    doc="Bigram conditional language-model scoring — one order up from "
    "text_unigram_logprob: each document's mean -ln p(w2 | w1) under "
    "the corpus bigram MLE, the stronger gibberish/boilerplate signal "
    "(token-salad text has plausible unigrams but improbable "
    "transitions). Bigrams form map-side from the token array (an "
    "index-lambda transform, no self-join on position), conditional "
    "probabilities are count ratios quantized to integer micro-nats "
    "per DISTINCT bigram, and the per-doc sum is associative integer "
    "math. Joins are hint-free: the bigram table grows with vocab^2 in "
    "the worst case, so the broadcast decision belongs to AQE's "
    "runtime sizes (r7 broadcast-audit policy).",
)
def text_bigram_logprob(spark: SparkSession, sf: str) -> DataFrame:
    d = T(spark, sf, "documents")
    t = _tokens()
    bi = (
        d.select("doc_id", t.alias("t"))
        .filter(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - 1),
                    lambda i: F.concat_ws(
                        " ", F.element_at("t", i), F.element_at("t", i + 1)
                    ),
                )
            ).alias("bg"),
        )
    )
    cbi = bi.groupBy("bg").agg(F.count(F.lit(1)).alias("c12"))
    cleft = cbi.groupBy(F.split_part(F.col("bg"), F.lit(" "), F.lit(1)).alias("w1")).agg(
        F.sum("c12").cast("long").alias("c1")
    )
    scored = cbi.join(
        cleft, F.split_part(F.col("bg"), F.lit(" "), F.lit(1)) == F.col("w1")
    ).select(
        "bg",
        F.floor(
            F.log(F.col("c1").cast("double") / F.col("c12").cast("double"))
            * 1000000
            + 0.5
        )
        .cast("long")
        .alias("nll_u6"),
    )
    return (
        bi.join(scored, "bg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("nll_u6").cast("long").alias("nll_sum_u6"),
            F.expr("CAST(sum(nll_u6) div count(*) AS LONG)").alias("avg_nll_u6"),
        )
    )


@query(
    "dedup_minhash_components",
    oracle=None,  # minhash candidates are probabilistic -> rows-only
    section="2.10",
    doc="The FULL production near-dedup path composed end-to-end: "
    "MinHash signatures -> banded LSH candidates -> exact-Jaccard "
    "verification (llm/minhash.py) -> connected components "
    "(operators/concomp.py) -> per-document duplicate-group "
    "assignment with component size. This is the pipeline a 100 TB "
    "corpus actually runs (the exact-pair tier that "
    "dedup_connected_components clusters is quadratic and exists as "
    "the oracle); every stage here is linear-shuffle, and the "
    "components run as star-contraction rounds only while the edge set "
    "exceeds operators.concomp.DRIVER_FINISH_EDGES — a verified pair "
    "set within it is finished by one union-find on the driver after "
    "one bounded collect. Approximate "
    "only in candidate RECALL — and because MinHash recall is 1.0 on "
    "this corpus (pinned in tests/test_ann_recall.py), the composed "
    "result must equal the exact-pair clustering exactly, which "
    "tests/test_concomp.py asserts.",
)
def dedup_minhash_components(spark: SparkSession, sf: str) -> DataFrame:
    from etl_covid19_brasil_spark.llm.minhash import minhash_near_dup_pairs
    from etl_covid19_brasil_spark.operators.concomp import connected_components

    d = _near_dup_corpus(spark, sf).select(
        "doc_id", _shingle_hashes(F.col("w")).alias("sh")
    )
    pairs = minhash_near_dup_pairs(
        d, id_col="doc_id", tokens_col="sh", threshold=0.8
    )
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    comp = connected_components(
        edges, nodes=d.select(F.col("doc_id").alias("node"))
    )
    return comp.select(
        F.col("node").alias("doc_id"),
        "component_id",
        F.count(F.lit(1))
        .over(Window.partitionBy("component_id"))
        .alias("component_size"),
    )


# Per-token Jensen-Shannon contribution, quantized to integer NANO-nats
# BEFORE the vocabulary sum (a double sum over the vocab would be
# summation-order-sensitive). One shared expression tree: p = ca/na,
# q = cb/nb as doubles from exact int64 counts; zero-count sides
# contribute their limit (0) via CASE.
_JS_TERM_N9 = (
    "CAST(floor((" 
    " 0.5 * (CASE WHEN ca = 0 THEN 0.0 ELSE"
    "  (CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))"
    "  * ln(2.0 * (CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))"
    "       / (CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)"
    "          + CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))) END)"
    " + 0.5 * (CASE WHEN cb = 0 THEN 0.0 ELSE"
    "  (CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))"
    "  * ln(2.0 * (CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))"
    "       / (CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)"
    "          + CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))) END)"
    ") * 1000000000.0 + 0.5) AS BIGINT)"
)


@query(
    "corpus_js_divergence",
    oracle=f"""
    WITH toks AS (
      SELECT CASE WHEN length(source) = 4 THEN 'a' ELSE 'b' END AS grp,
             unnest({_O_TOKENS}) AS token
      FROM documents
    ),
    counts AS (
      SELECT token,
             CAST(SUM(CASE WHEN grp = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
             CAST(SUM(CASE WHEN grp = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS cb
      FROM toks GROUP BY token
    ),
    tot AS (
      SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb
      FROM counts
    )
    SELECT na, nb,
           CAST(COUNT(*) AS BIGINT) AS vocab_union,
           CAST(SUM({_JS_TERM_N9}) AS BIGINT) AS js_nano
    FROM counts, tot
    GROUP BY na, nb
    """,
    section="2.10",
    doc="Jensen-Shannon divergence between two source-groups' unigram "
    "distributions — the corpus-comparison statistic mixture planning "
    "uses to quantify how different two data sources actually are "
    "(0 = identical distributions, ln 2 = disjoint support). Groups = "
    "short- vs long-named sources (a deterministic split). Per-token "
    "JS contributions are quantized to integer nano-nats BEFORE the "
    "vocabulary sum (the associative-integer policy — a raw double "
    "sum over the vocab is summation-order-sensitive); probabilities "
    "come from exact int64 counts through one shared expression tree. "
    "Scale shape: one token-count shuffle, the 1-row totals broadcast "
    "(crossJoin), one vocabulary-sized integer sum.",
)
def corpus_js_divergence(spark: SparkSession, sf: str) -> DataFrame:
    d = T(spark, sf, "documents")
    toks = d.select(
        F.when(F.length("source") == 4, "a").otherwise("b").alias("grp"),
        F.explode(_tokens()).alias("token"),
    )
    counts = toks.groupBy("token").agg(
        F.sum(F.when(F.col("grp") == "a", 1).otherwise(0)).cast("long").alias("ca"),
        F.sum(F.when(F.col("grp") == "b", 1).otherwise(0)).cast("long").alias("cb"),
    )
    tot = counts.agg(
        F.sum("ca").cast("long").alias("na"), F.sum("cb").cast("long").alias("nb")
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .groupBy("na", "nb")
        .agg(
            F.count(F.lit(1)).alias("vocab_union"),
            F.sum(F.expr(_JS_TERM_N9)).cast("long").alias("js_nano"),
        )
    )


# One BPE training step as SQL text (x <> y restriction makes greedy
# left-to-right merging order-free: overlapping matches are impossible,
# so the merge is a pure per-position decision — window lag/lead, no
# sequential fold). {i} = step index, {prev} = previous sequence CTE.
_O_BPE_STEP = """
    s{i} AS (
      SELECT doc_id, pos, tok,
             LEAD(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt,
             LAG(tok)  OVER (PARTITION BY doc_id ORDER BY pos) AS prv
      FROM {prev}
    ),
    c{i} AS (
      SELECT tok AS x, nxt AS y, CAST(COUNT(*) AS BIGINT) AS n
      FROM s{i} WHERE nxt IS NOT NULL AND tok <> nxt
      GROUP BY tok, nxt
    ),
    t{i} AS (SELECT x, y, n FROM c{i} ORDER BY n DESC, x ASC, y ASC LIMIT 1),
    seq{i} AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS pos,
             CASE WHEN tok = x AND nxt = y THEN tok || '_' || y
                  ELSE tok END AS tok
      FROM s{i}, t{i}
      WHERE prv IS NULL OR prv <> x OR tok <> y
    )"""


def _bpe_round(seq: DataFrame) -> tuple[DataFrame, DataFrame]:
    """One BPE training round over ``(doc_id, pos, tok)`` — the Spark side
    of _O_BPE_STEP: lag/lead window, adjacent-pair count, top-1 pick
    (count desc, lexicographic tie-break), broadcast per-position merge,
    renumbering window. Returns ``(top, next_seq)``: the 1-row ``(x, y,
    n)`` merge and the merged sequence, lineage truncated by a lazy
    localCheckpoint."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    s = seq.select(
        "doc_id",
        "pos",
        "tok",
        F.lead("tok").over(w).alias("nxt"),
        F.lag("tok").over(w).alias("prv"),
    )
    c = (
        s.filter(F.col("nxt").isNotNull() & (F.col("tok") != F.col("nxt")))
        .groupBy(F.col("tok").alias("x"), F.col("nxt").alias("y"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    top = c.orderBy(F.desc("n"), F.asc("x"), F.asc("y")).limit(1)
    merged = (
        s.crossJoin(F.broadcast(top))
        .filter(
            F.col("prv").isNull()
            | (F.col("prv") != F.col("x"))
            | (F.col("tok") != F.col("y"))
        )
        .select(
            "doc_id",
            "pos",
            F.when(
                (F.col("tok") == F.col("x")) & (F.col("nxt") == F.col("y")),
                F.concat("tok", F.lit("_"), F.col("y")),
            )
            .otherwise(F.col("tok"))
            .alias("tok"),
        )
    )
    renumbered = merged.select("doc_id", F.row_number().over(w).alias("pos"), "tok")
    return top, renumbered.localCheckpoint(eager=False)


@query(
    "bpe_train_merges",
    oracle=f"""
    WITH seq0 AS (
      SELECT doc_id, u.i AS pos, u.tok
      FROM (SELECT doc_id,
                   list_transform({_O_TOKENS},
                                  (t, idx) -> {{'i': idx, 'tok': t}}) AS ps
            FROM documents), unnest(ps) AS t(u)
    ),
    {_O_BPE_STEP.format(i=1, prev='seq0')},
    {_O_BPE_STEP.format(i=2, prev='seq1')},
    {_O_BPE_STEP.format(i=3, prev='seq2')}
    SELECT 1 AS step, x || ' ' || y AS pair, n AS n_merges FROM t1
    UNION ALL
    SELECT 2, x || ' ' || y, n FROM t2
    UNION ALL
    SELECT 3, x || ' ' || y, n FROM t3
    """,
    section="2.10",
    doc="Distributed BPE merge training — the iterative-algorithm tier "
    "next to graph_pagerank_centrality: 3 rounds of (count adjacent "
    "token pairs -> pick the most frequent -> merge every occurrence "
    "corpus-wide), returning the learned merge table. The x <> y "
    "restriction makes greedy merging ORDER-FREE (overlapping matches "
    "cannot exist), so each round is pure relational algebra: one "
    "lag/lead window per round (doc-keyed shuffle), a pair-count "
    "aggregate (vocabulary-bounded), a 1-row top pick broadcast back, "
    "a per-position CASE merge, and a renumbering window on the SAME "
    "doc partitioning. Everything is integer/string-deterministic "
    "(count-desc, lexicographic tie-break) so a 3-deep iterative "
    "computation hash-matches the chained-CTE oracle exactly. "
    "Lineage is truncated per round (localCheckpoint) like the "
    "pagerank sweeps. Real BPE trains on sampled statistics with "
    "thousands of merges; the per-round plan is identical.",
)
def bpe_train_merges(spark: SparkSession, sf: str) -> DataFrame:
    seq = T(spark, sf, "documents").select("doc_id", F.posexplode(_tokens()).alias("pos", "tok"))
    tops = []
    for step_no in (1, 2, 3):
        t, seq = _bpe_round(seq)
        tops.append(
            t.select(
                F.lit(step_no).alias("step"),
                F.concat_ws(" ", "x", "y").alias("pair"),
                F.col("n").alias("n_merges"),
            )
        )
    return functools.reduce(DataFrame.unionByName, tops)


@query(
    "bpe_apply_merges",
    oracle=f"""
    WITH seq0 AS (
      SELECT doc_id, u.i AS pos, u.tok
      FROM (SELECT doc_id,
                   list_transform({_O_TOKENS},
                                  (t, idx) -> {{'i': idx, 'tok': t}}) AS ps
            FROM documents), unnest(ps) AS t(u)
    ),
    {_O_BPE_STEP.format(i=1, prev='seq0')},
    {_O_BPE_STEP.format(i=2, prev='seq1')},
    {_O_BPE_STEP.format(i=3, prev='seq2')},
    before AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens_raw
               FROM seq0 GROUP BY doc_id),
    after AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens_bpe
              FROM seq3 GROUP BY doc_id)
    SELECT b.doc_id, n_tokens_raw, n_tokens_bpe,
           n_tokens_raw - n_tokens_bpe AS n_merged
    FROM before b JOIN after a ON b.doc_id = a.doc_id
    """,
    section="2.10",
    doc="BPE APPLICATION — the tokenize-with-learned-merges side of "
    "bpe_train_merges: the same 3 trained merges applied corpus-wide, "
    "reporting each document's token count before and after (the "
    "compression a tokenizer actually delivers, the statistic used to "
    "size context windows and shard budgets). Same per-round plan as "
    "training (the merge table is re-derived in-flow — a production "
    "run would broadcast a frozen merge list and skip the count "
    "rounds, making apply a pure map-side pass per merge).",
)
def bpe_apply_merges(spark: SparkSession, sf: str) -> DataFrame:
    seq = T(spark, sf, "documents").select("doc_id", F.posexplode(_tokens()).alias("pos", "tok"))
    before = seq.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens_raw")
    )
    for _ in range(3):
        _, seq = _bpe_round(seq)
    after = seq.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens_bpe")
    )
    return before.join(after, "doc_id").select(
        "doc_id",
        "n_tokens_raw",
        "n_tokens_bpe",
        (F.col("n_tokens_raw") - F.col("n_tokens_bpe")).alias("n_merged"),
    )


@query(
    "corpus_zipf_slope",
    oracle=f"""
    WITH freq AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT unnest({_O_TOKENS}) AS token FROM documents)
      GROUP BY token
    ),
    ranked AS (
      SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, token ASC) AS rk
      FROM freq
    ),
    top AS (
      SELECT CAST(floor(ln(CAST(rk AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS lx,
             CAST(floor(ln(CAST(n AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS ly
      FROM ranked WHERE rk <= 100
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m,
             CAST(SUM(lx) AS BIGINT) AS sx,
             CAST(SUM(ly) AS BIGINT) AS sy,
             CAST(SUM(lx * lx) AS BIGINT) AS sxx,
             CAST(SUM(lx * ly) AS BIGINT) AS sxy
      FROM top
    )
    SELECT m,
           CAST(floor((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                      / (CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      * 1000000.0 + 0.5) AS BIGINT) AS zipf_slope_micro
    FROM s
    """,
    section="2.10",
    doc="Zipf's-law slope: least-squares fit of ln(frequency) against "
    "ln(rank) over the top-100 token types — the corpus-law diagnostic "
    "next to corpus_vocab_growth's Heaps curve (natural text fits "
    "slope ~ -1; spam/boilerplate-heavy corpora flatten or steepen "
    "it). House-policy order-independence throughout: each ln term is "
    "quantized to integer MICRO per row BEFORE the moment sums (the "
    "JS-divergence discipline — raw double moment sums would be "
    "summation-order-sensitive even over 100 rows), the sums are "
    "exact int64 (micro-scaled squares stay < 2^63 at m=100), and "
    "the final slope divides them through one shared double tree. "
    "One count shuffle + a top-100 short-circuit; the regression "
    "itself touches a fixed 100-row relation.",
)
def corpus_zipf_slope(spark: SparkSession, sf: str) -> DataFrame:
    d = T(spark, sf, "documents")
    freq = (
        d.select(F.explode(_tokens()).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    ranked = freq.select(
        "n",
        F.row_number()
        .over(Window.orderBy(F.desc("n"), F.asc("token")))
        .alias("rk"),
    ).filter(F.col("rk") <= 100)
    lx = F.floor(F.log(F.col("rk").cast("double")) * 1000000 + 0.5).cast("long")
    ly = F.floor(F.log(F.col("n").cast("double")) * 1000000 + 0.5).cast("long")
    q = ranked.select(lx.alias("lx"), ly.alias("ly"))
    s = q.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("lx").cast("long").alias("sx"),
        F.sum("ly").cast("long").alias("sy"),
        F.sum(F.col("lx") * F.col("lx")).cast("long").alias("sxx"),
        F.sum(F.col("lx") * F.col("ly")).cast("long").alias("sxy"),
    )
    return s.select(
        "m",
        F.expr(
            "CAST(floor((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)"
            " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
            " / (CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)"
            " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
            " * 1000000.0 + 0.5) AS BIGINT)"
        ).alias("zipf_slope_micro"),
    )


@query(
    "dedup_prefix_truncation",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, md5(text) AS full_h,
             md5(array_to_string(list_slice({_O_TOKENS}, 1, 20), ' ')) AS prefix_h,
             len({_O_TOKENS}) AS n_tokens
      FROM documents
    ),
    fams AS (
      SELECT prefix_h,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(DISTINCT full_h) AS BIGINT) AS n_variants,
             MIN(doc_id) AS family_id,
             CAST(MIN(n_tokens) AS BIGINT) AS shortest_tokens,
             CAST(MAX(n_tokens) AS BIGINT) AS longest_tokens
      FROM toks GROUP BY prefix_h
    )
    SELECT family_id, n_docs, n_variants, shortest_tokens, longest_tokens
    FROM fams WHERE n_docs > 1 AND n_variants > 1
    """,
    section="2.10",
    doc="Truncation-family detection — the dedup blind spot exact "
    "full-text hashing misses: documents sharing their first 20 tokens "
    "but differing afterwards are usually the SAME source document cut "
    "at different lengths (pagination, extraction limits, feed "
    "truncation), and a corpus should keep only the longest. Families "
    "key on the prefix hash (one hash-aggregate shuffle, hashes "
    "carried, never text), reporting member/variant counts and the "
    "token-length spread that identifies which member to keep — the "
    "complement of dedup_canonical_pick's longest-survivor rule, "
    "applied to prefix families instead of near-dup components.",
)
def dedup_prefix_truncation(spark: SparkSession, sf: str) -> DataFrame:
    d = T(spark, sf, "documents")
    t = _tokens()
    toks = d.select(
        "doc_id",
        F.md5("text").alias("full_h"),
        F.md5(F.concat_ws(" ", F.slice(t, 1, 20))).alias("prefix_h"),
        F.size(t).cast("long").alias("n_tokens"),
    )
    fams = toks.groupBy("prefix_h").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("full_h").alias("n_variants"),
        F.min("doc_id").alias("family_id"),
        F.min("n_tokens").cast("long").alias("shortest_tokens"),
        F.max("n_tokens").cast("long").alias("longest_tokens"),
    )
    return fams.filter((F.col("n_docs") > 1) & (F.col("n_variants") > 1)).select(
        "family_id", "n_docs", "n_variants", "shortest_tokens", "longest_tokens"
    )


@query(
    "dedup_substring_ngrams",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_O_TOKENS} AS t FROM documents),
    sh_all AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(t) - 7),
                    i -> array_to_string(list_slice(t, i, i + 7), ' '))) AS s
      FROM toks
    ),
    sh AS (SELECT DISTINCT doc_id, s FROM sh_all),
    g AS (SELECT s, COUNT(*) AS nd FROM sh GROUP BY s),
    dup AS (
      SELECT sh.doc_id, sh.s FROM sh JOIN g USING (s)
      WHERE g.nd >= 2 AND g.nd <= 64
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM dup a JOIN dup b USING (s) WHERE a.doc_id <> b.doc_id
    ),
    tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id),
    dups AS (SELECT doc_id, COUNT(*) AS dup_shingles FROM dup GROUP BY doc_id),
    partners AS (SELECT d1 AS doc_id, COUNT(*) AS partner_docs FROM pairs GROUP BY d1)
    SELECT t.doc_id, t.n_shingles, d.dup_shingles, p.partner_docs
    FROM tot t JOIN dups d USING (doc_id) JOIN partners p USING (doc_id)
    """,
    section="2.10",
    doc="Exact substring-level duplication profile (the Lee et al. 2022 "
    "'Deduplicating Training Data' primitive): every 8-token shingle "
    "that recurs across documents marks copied SPANS — boilerplate, "
    "quoted passages, mirrored paragraphs — that document-level and "
    "near-dup hashing both miss when the rest of the document differs. "
    "Per document: distinct shingles, how many of them are shared with "
    "other documents, and the number of partner documents sharing at "
    "least one span. Scale shape: shingles explode map-side from the "
    "token array (no self-join on text); the recurrence profile is one "
    "hash-aggregate on the shingle; partner pairs join only SHARED "
    "shingles, with ubiquitous shingles (>64 docs — stop-phrase "
    "boilerplate) excluded exactly like minhash banding caps its "
    "bucket fanout, so the pair fanout is bounded per shingle. "
    "Shingles are hashed to int64 map-side (xxhash64) so no shuffle "
    "ever carries shingle STRINGS — the oracle stays portable because "
    "it compares the per-doc PROFILE, which is hash-agnostic "
    "(collisions are ~|shingles|^2/2^64, vanishing; verified "
    "hash-exact on the fixed corpora).",
)
def dedup_substring_ngrams(spark: SparkSession, sf: str) -> DataFrame:
    d = _spread(T(spark, sf, "documents"))
    W = 8
    # Two-stage shingling with a MATERIALIZATION BARRIER between
    # tokenize and shingle. Single-stage formulations are a trap: the
    # per-position lambda references the token-array expression, and
    # after CollapseProject inlines it, non-codegen evaluation re-runs
    # the tokenizer REGEX once per position — O(len^2 * regex) per
    # document (thread dumps at the 8x probe showed all 32 cores inside
    # RegExpReplace.nullSafeEval; 200+ s for ~2 s of real work). The
    # localCheckpoint pins (doc_id, token-hash array) as computed data,
    # so the shingle pass slides over materialized LONGS — O(len * W)
    # hashing, immune to expression-inlining and codegen-mode changes.
    # Shingles themselves are xxhash64-of-slice longs, never strings:
    # no shuffle carries text, and collisions merge two shingles
    # corpus-wide with probability ~|shingles|^2/2^64 — negligible
    # (same argument as the minhash verification tier).
    th_df = d.select(
        "doc_id",
        F.transform(_tokens(), lambda x: F.xxhash64(x)).alias("th"),
    ).localCheckpoint(eager=False)
    shingles = F.when(
        F.size(F.col("th")) >= W,
        F.transform(
            F.sequence(F.lit(1), F.size(F.col("th")) - (W - 1)),
            lambda i: F.xxhash64(F.slice(F.col("th"), i, W)),
        ),
    ).otherwise(F.array().cast("array<long>"))
    sh = (
        th_df.select("doc_id", F.explode(shingles).alias("s"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    g = sh.groupBy("s").agg(F.count("*").alias("nd"))
    # EVERY side of every join below is O(corpus): the recurrence
    # profile, the dup set, and the per-doc aggregates all grow with the
    # data, so none may broadcast (the minhash-verification lesson:
    # a broadcast side must be O(1) in corpus size). Left hint-free,
    # Catalyst broadcast EVERY join here (12 builds, each serially
    # materializing a growing subtree — measured 203 s at the 8x probe
    # vs ~20 s of actual stage work); shuffle_hash hints pin the
    # hash-partitioned plan. dup additionally checkpoints because three
    # consumers would otherwise inline its join+aggregate subtree.
    dup = (
        sh.join(g.filter((F.col("nd") >= 2) & (F.col("nd") <= 64)).hint("shuffle_hash"), "s")
        .select("doc_id", "s")
        .localCheckpoint(eager=False)
    )
    a = dup.alias("a")
    b = dup.alias("b")
    pairs = (
        a.join(
            b.hint("shuffle_hash"),
            (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_id"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )
    tot = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    dups = dup.groupBy("doc_id").agg(F.count("*").alias("dup_shingles"))
    partners = pairs.groupBy("doc_id").agg(F.count("*").alias("partner_docs"))
    return (
        tot.join(dups.hint("shuffle_hash"), "doc_id")
        .join(partners.hint("shuffle_hash"), "doc_id")
        .select("doc_id", "n_shingles", "dup_shingles", "partner_docs")
    )


@query(
    "embedding_class_centroids",
    oracle="""
    WITH q AS (
      SELECT label,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT)) AS qv
      FROM embeddings
    ),
    comp AS (
      SELECT label, u.i, u.qi
      FROM (SELECT label,
                   list_transform(qv, (x, idx) -> {'i': idx - 1, 'qi': x}) AS ps
            FROM q), unnest(ps) AS t(u)
    )
    SELECT label, i AS dim, COUNT(*) AS n,
           CAST(SUM(qi) AS BIGINT) AS sum_milli,
           CAST(CAST(SUM(qi) AS BIGINT) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1000.0
             AS centroid
    FROM comp GROUP BY label, i
    """,
    section="2.10",
    doc="Per-class embedding centroids — the prototype vectors behind "
    "nearest-centroid classification, class-balance diagnostics and "
    "IVF-style seeding (ann_ivf_trained's Lloyd iterations compute "
    "exactly this per cell). Components quantized to milli-units "
    "explode map-side; ONE partial-aggregated shuffle carries (label, "
    "dim) partial sums — |labels|*d keys total, independent of row "
    "count — and the centroid is the exact integer sum through two "
    "identical IEEE divisions. The same shape computes per-SOURCE "
    "centroids for corpus-drift monitoring at 100 TB.",
)
def embedding_class_centroids(spark: SparkSession, sf: str) -> DataFrame:
    e = T(spark, sf, "embeddings")
    q = e.select(
        "label",
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * 1000.0 + 0.5).cast("long"),
        ).alias("qv"),
    )
    comp = q.select("label", F.posexplode("qv").alias("i", "qi"))
    return comp.groupBy("label", F.col("i").alias("dim")).agg(
        F.count("*").alias("n"),
        F.sum("qi").cast("long").alias("sum_milli"),
        (
            F.sum("qi").cast("long").cast("double")
            / F.count("*").cast("double")
            / F.lit(1000.0)
        ).alias("centroid"),
    )


@query(
    "text_lexical_mattr",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_O_TOKENS} AS t FROM documents),
    chunks AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(0, len(t) // 50 - 1),
                    c -> len(list_distinct(list_slice(t, c * 50 + 1, c * 50 + 50)))))
               AS distinct_in_chunk
      FROM toks WHERE len(t) >= 50
    )
    SELECT doc_id, COUNT(*) AS n_chunks,
           CAST(SUM(distinct_in_chunk) AS BIGINT) * 1000000
             // (COUNT(*) * 50) AS mattr_ppm
    FROM chunks GROUP BY doc_id
    """,
    section="2.10",
    doc="Windowed type-token ratio (MATTR-style lexical diversity): each "
    "document is cut into fixed 50-token chunks and the mean "
    "distinct-token fraction across chunks is reported in integer ppm. "
    "Plain per-doc TTR decays with document length (longer text "
    "repeats more), so fixed-window TTR is the comparable-across-"
    "lengths diversity score quality filters actually use (low MATTR "
    "= TEMPLATE/keyword-stuffing spam even when the document-level "
    "stats look fine — complements text_repetition_signals' n-gram "
    "repetition and text_entropy's character distribution). Entirely "
    "map-side per document (array ops on the token array), one "
    "aggregate shuffle on doc_id.",
)
def text_lexical_mattr(spark: SparkSession, sf: str) -> DataFrame:
    d = _spread(T(spark, sf, "documents"))
    W = 50
    # Materialization barrier between tokenize and the per-chunk lambda
    # (the dedup_substring_ngrams lesson): without it the token-array
    # expression is re-evaluated — full regex tokenize — once per chunk
    # reference, O(len^2) per doc (this query measured 29.2x at the 32x
    # probe before the barrier, 10.9x after).
    tok_df = d.select("doc_id", _tokens().alias("tk")).localCheckpoint(eager=False)
    tk = F.col("tk")
    chunks = F.transform(
        F.sequence(F.lit(0), (F.size(tk) / W).cast("long") - 1),
        lambda c: F.size(F.array_distinct(F.slice(tk, c * W + 1, W))),
    )
    ex = tok_df.filter(F.size(tk) >= W).select(
        "doc_id", F.explode(chunks).alias("distinct_in_chunk")
    )
    return ex.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.expr("CAST(sum(distinct_in_chunk) AS BIGINT) * 1000000 DIV (count(*) * 50)").alias(
            "mattr_ppm"
        ),
    )


@query(
    "embedding_pca_power",
    oracle=None,  # iterative linear algebra — rows-only by the driver
    # contract; exactness vs numpy's eigendecomposition is pinned in
    # tests/test_ann_recall.py::test_pca_power_matches_numpy.
    section="2.10",
    doc="Top principal component of the embedding cloud by distributed "
    "power iteration — the PCA/whitening primitive beside "
    "embedding_covariance_milli (which emits the matrix this consumes) "
    "and graph_pagerank_centrality (the same power-method loop on a "
    "different operator). The covariance NUMERATOR n*Sum(xy)-Sum(x)Sum(y) "
    "is built once as exact int64 over milli-quantized components "
    "(one partial-aggregated shuffle, d^2 = 4096 keys independent of "
    "corpus size); then 8 matvec rounds run ENTIRELY on d-sized "
    "DataFrames: v (64 rows, milli-quantized int) broadcast-joins C "
    "(4096 rows), partial sums reduce per output dim, and the "
    "renormalization divides by the max-|component| via a one-row "
    "crossJoin — integer state end-to-end, so partition order can "
    "never flip a bit, and NO driver collect anywhere in the loop. "
    "Convergence posture: the test embeddings are near-isotropic "
    "(lambda2/lambda1 ~ 0.987), so the eigenVECTOR direction converges "
    "slowly by design — what 8 rounds DO deliver, and what the test "
    "pins, is a direction whose Rayleigh quotient reaches >= 0.9 of "
    "the true top eigenvalue (measured 0.95; a random direction scores "
    "~0.56); on real clustered data with a spectral gap the same 8 "
    "rounds nail the direction itself. The iteration count is the "
    "caller's accuracy knob, each round costing two d^2-sized "
    "micro-shuffles. "
    "Sign convention: the largest-|v| dimension (smallest dim on ties) "
    "is made positive. int64 envelope: |C| <= n^2 * 1e6 and "
    "|C|*1e3*64 must stay < 2^63 — safe to n ~ 1e4 vectors at "
    "milli-quantization; beyond that pre-scale C (the same "
    "envelope-management note as agg_stats_higher).",
)
def embedding_pca_power(spark: SparkSession, sf: str) -> DataFrame:
    e = T(spark, sf, "embeddings")
    q = e.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * 1000.0 + 0.5).cast("long"),
        ).alias("qv"),
    )
    # Full d x d outer product generated inline per row (same join-free
    # shape as embedding_covariance_milli, full matrix instead of the
    # upper triangle because the matvec loop consumes C[i][j] for every
    # ordered pair): no vec_id self-join shuffle — partial aggregation
    # absorbs the d^2 blowup map-side and the only shuffle carries d^2
    # keys per partition. _spread parallelizes the blowup when the scan
    # arrives in fewer partitions than the cluster (no-op at scale).
    q = _spread(q)
    qv = F.col("qv")
    full = F.flatten(
        F.transform(
            qv,
            lambda x, i: F.transform(
                qv,
                lambda y, j: F.struct(
                    i.alias("i"), j.alias("j"), x.alias("x"), y.alias("y")
                ),
            ),
        )
    )
    sums = (
        q.select(F.explode(full).alias("p"))
        .groupBy(F.col("p.i").alias("i"), F.col("p.j").alias("j"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("p.x") * F.col("p.y")).cast("long").alias("sxy"),
            F.sum(F.col("p.x")).cast("long").alias("sx"),
            F.sum(F.col("p.y")).cast("long").alias("sy"),
        )
    )
    C = sums.select(
        "i", "j", (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("c")
    ).localCheckpoint(eager=False)

    # v0 = all-ones (never orthogonal to the top eigenvector of a PSD
    # covariance unless the data is pathological); milli-quantized.
    dims = C.select(F.col("i").alias("dim")).distinct()
    v = dims.select("dim", F.lit(1000).cast("long").alias("vm"))
    for _ in range(8):
        w = (
            C.join(v, C.j == v.dim)
            .groupBy(F.col("i").alias("dim"))
            .agg(F.sum(F.col("c") * F.col("vm")).alias("wraw"))
        )
        mx = w.agg(F.max(F.abs(F.col("wraw"))).alias("mx"))
        # floor(x + 0.5) rather than round(): HALF_UP ties round away
        # from zero for negatives, which a sequential reference
        # implementation (numpy) cannot reproduce with one primitive —
        # floor(+0.5) is the tie rule both sides state identically, so
        # the distributed loop is BIT-exactly replayable (pinned in
        # tests/test_ann_recall.py).
        v = (
            w.crossJoin(mx)
            .select(
                "dim",
                F.floor(
                    F.col("wraw").cast("double") * 1000.0 / F.col("mx").cast("double")
                    + 0.5
                )
                .cast("long")
                .alias("vm"),
            )
            .localCheckpoint(eager=False)
        )
    # Deterministic sign: flip so the largest-|component| dim (smallest
    # dim on ties) is positive.
    lead = v.orderBy(F.abs(F.col("vm")).desc(), F.col("dim")).limit(1).select(
        F.signum(F.col("vm").cast("double")).cast("long").alias("sign")
    )
    return (
        v.crossJoin(lead)
        .select("dim", (F.col("vm") * F.col("sign")).alias("v_milli"))
        .orderBy("dim")
    )


@query(
    "near_dedup_prefix_filter",
    oracle=f"""
    WITH corpus AS ({_O_CORPUS}),
    t AS (SELECT doc_id, {_O_SHINGLES.format(w='w')} AS sh FROM corpus
          WHERE doc_id % 1000000 < {_JACCARD_CAP}),
    ex AS (SELECT doc_id, unnest(sh) AS s FROM t),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           CAST((c.inter * 1000000) // (len(sa.sh) + len(sb.sh) - c.inter) AS BIGINT)
             AS jaccard_ppm
    FROM cand c
    JOIN t sa ON sa.doc_id = c.doc_a
    JOIN t sb ON sb.doc_id = c.doc_b
    WHERE c.inter * 10 >= (len(sa.sh) + len(sb.sh) - c.inter) * 7
    """,
    section="2.10",
    doc="PPJoin-style PREFIX-FILTERED exact Jaccard join (threshold 0.7) — "
    "the third dedup tier between the full posting-list join "
    "(near_dedup_jaccard) and approximate LSH banding: shingles are "
    "globally ordered by ascending document frequency (rarest first, "
    "hash tiebreak), each doc posts only its first |A| - ceil(0.7|A|) + 1 "
    "shingles, and candidates come from the prefix-only equi-join plus "
    "the length filter 10*min(|A|,|B|) >= 7*max — any pair with "
    "J >= 0.7 must share a prefix shingle (Chaudhuri/Xiao prefix "
    "lemma with per-doc t = ceil(0.7|X|)), so the result is EXACT while "
    "the join fans out only on rare tokens instead of every posting. "
    "Survivors are verified with array_intersect on the full hashed "
    "shingle sets; the 0.7 gate is integer cross-multiplication and "
    "jaccard is integer ppm, so no double is compared. Shingle "
    "identity rides xxhash64 longs (string shingles in the oracle — "
    "same counts modulo ~n^2/2^64 collisions, the near_dedup_jaccard "
    "argument). Scale: one df-count shuffle, one doc-keyed window for "
    "prefix ranks, candidate join restricted to prefixes — the "
    "standard exact set-similarity join used at corpus scale.",
)
def near_dedup_prefix_filter(spark: SparkSession, sf: str) -> DataFrame:
    d = _shingle_sets(_near_dup_corpus(spark, sf))
    ex = d.select(
        "doc_id", F.size("sh").cast("long").alias("sz"), F.explode("sh").alias("s")
    )
    df_tbl = ex.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    ranked = ex.join(df_tbl, "s").withColumn(
        "pos", F.row_number().over(Window.partitionBy("doc_id").orderBy("df", "s"))
    )
    # prefix length = sz - ceil(0.7*sz) + 1; ceil(7x/10) = (7x + 9) DIV 10.
    # Checkpointed: both sides of the self-join read it, and expr-id
    # differences keep Catalyst's ReuseExchange from deduplicating the
    # df-join + rank window underneath on its own.
    prefix = ranked.filter(
        F.col("pos") <= F.col("sz") - F.expr("(7 * sz + 9) DIV 10") + 1
    ).localCheckpoint(eager=False)
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.sz") * 7 <= F.col("b.sz") * 10)
            & (F.col("b.sz") * 7 <= F.col("a.sz") * 10),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    inter = F.size(F.array_intersect(F.col("sa.sh"), F.col("sb.sh"))).cast("long")
    return (
        cand.join(d.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(d.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .withColumn("inter", inter)
        .withColumn(
            "uni",
            F.size(F.col("sa.sh")).cast("long")
            + F.size(F.col("sb.sh")).cast("long")
            - F.col("inter"),
        )
        .filter(F.col("inter") * 10 >= F.col("uni") * 7)
        .select("doc_a", "doc_b", F.expr("inter * 1000000 DIV uni").alias("jaccard_ppm"))
    )


@query(
    "near_dedup_containment",
    oracle=f"""
    WITH corpus AS ({_O_CORPUS}),
    t AS (SELECT doc_id, {_O_SHINGLES.format(w='w')} AS sh FROM corpus
          WHERE doc_id % 1000000 < {_JACCARD_CAP}),
    ex AS (SELECT doc_id, unnest(sh) AS s FROM t),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    sized AS (
      SELECT c.doc_a, c.doc_b, c.inter,
             len(sa.sh) AS sz_a, len(sb.sh) AS sz_b
      FROM cand c
      JOIN t sa ON sa.doc_id = c.doc_a
      JOIN t sb ON sb.doc_id = c.doc_b
    )
    SELECT doc_a AS doc_sub, doc_b AS doc_sup,
           CAST((inter * 1000000) // sz_a AS BIGINT) AS containment_ppm
    FROM sized WHERE inter * 10 >= sz_a * 9
    UNION ALL
    SELECT doc_b AS doc_sub, doc_a AS doc_sup,
           CAST((inter * 1000000) // sz_b AS BIGINT) AS containment_ppm
    FROM sized WHERE inter * 10 >= sz_b * 9
    """,
    section="2.10",
    doc="Set CONTAINMENT near-dup detection (threshold 0.9): directed "
    "pairs where |A∩B|/|A| >= 0.9 — the asymmetric complement of "
    "Jaccard that catches SUBSET duplication (a document embedded "
    "whole inside a longer one: quote inclusion, boilerplate "
    "wrapping, truncated re-crawls), which symmetric Jaccard misses "
    "whenever the container is much longer than the contained. The "
    "synthesized corpus makes this concrete: every mutated replica "
    "(first 3 tokens dropped) is near-fully contained in its source "
    "while their Jaccard can sit below any dedup threshold. Same "
    "posting-list candidate join as near_dedup_jaccard (pairs sharing "
    "no shingle never materialize), then BOTH directions of each "
    "candidate are tested with integer cross-multiplication and "
    "reported as integer ppm — no double in the hash. Scale posture "
    "identical to the jaccard tier; the prefix-filter rewrite applies "
    "here too with per-side prefix length |A| - ceil(0.9|A|) + 1.",
)
def near_dedup_containment(spark: SparkSession, sf: str) -> DataFrame:
    sized = (
        _posting_pairs(_shingle_sets(_near_dup_corpus(spark, sf)))
        .select(
            "doc_a", "doc_b", "inter",
            F.col("sa.sz").alias("sz_a"), F.col("sb.sz").alias("sz_b"),
        )
        .localCheckpoint(eager=False)  # both direction filters read it
    )
    fwd = sized.filter(F.col("inter") * 10 >= F.col("sz_a") * 9).select(
        F.col("doc_a").alias("doc_sub"),
        F.col("doc_b").alias("doc_sup"),
        F.expr("inter * 1000000 DIV sz_a").alias("containment_ppm"),
    )
    rev = sized.filter(F.col("inter") * 10 >= F.col("sz_b") * 9).select(
        F.col("doc_b").alias("doc_sub"),
        F.col("doc_a").alias("doc_sup"),
        F.expr("inter * 1000000 DIV sz_b").alias("containment_ppm"),
    )
    return fwd.unionByName(rev)


@query(
    "text_feature_hashing",
    oracle=f"""
    WITH ex AS (
      SELECT doc_id, unnest({_O_TOKENS}) AS token FROM documents
    )
    SELECT doc_id,
           CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) % 64 AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM ex GROUP BY doc_id, bucket
    """,
    section="2.10",
    doc="Hashing-trick featurization: tokens map straight to a fixed "
    "64-dim count vector by content hash — no vocabulary pass, no "
    "fit/transform state, memory independent of vocabulary size (the "
    "property that makes it the streaming/OOV-proof alternative to "
    "TF-IDF's two-pass vocabulary build in doc_top_terms_tfidf). "
    "Collisions are the accepted trade (two tokens sharing a bucket "
    "add their counts) and at 100 TB the dim is raised, not the "
    "algorithm changed. The bucket is the md5-slot idiom "
    "(sample_stratified_hash) so both engines hash identically; "
    "map-side explode + one (doc, bucket) aggregate, output bounded "
    "by docs x 64.",
)
def text_feature_hashing(spark: SparkSession, sf: str) -> DataFrame:
    d = _spread(T(spark, sf, "documents"))
    bucket = F.conv(F.substring(F.md5("token"), 1, 8), 16, 10).cast("long") % 64
    return (
        d.select("doc_id", F.explode(_tokens()).alias("token"))
        .select("doc_id", bucket.alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "corpus_vocab_coverage",
    oracle=f"""
    WITH ex AS (
      SELECT unnest({_O_TOKENS}) AS token FROM documents
    ),
    tf AS (SELECT token, COUNT(*) AS n FROM ex GROUP BY token),
    ranked AS (
      SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, token) AS rk FROM tf
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM tf),
    ks AS (SELECT CAST(unnest([100, 300, 1000, 3000]) AS BIGINT) AS k)
    SELECT k.k AS vocab_size,
           CAST(SUM(CASE WHEN r.rk <= k.k THEN r.n ELSE 0 END) AS BIGINT)
             AS covered_occurrences,
           CAST(SUM(CASE WHEN r.rk <= k.k THEN r.n ELSE 0 END) * 1000000
                // t.total AS BIGINT) AS coverage_ppm
    FROM ks k, ranked r, tot t
    GROUP BY k.k, t.total
    """,
    section="2.10",
    doc="Vocabulary coverage curve: the fraction of token OCCURRENCES "
    "captured by the k most frequent types, for k in {100, 300, 1000, "
    "3000} — the statistic that sizes a tokenizer vocabulary (Heaps' "
    "growth in corpus_vocab_growth counts how many NEW types appear; "
    "this counts how much of the STREAM the head types already cover, "
    "the other axis of the same decision; with corpus_zipf_slope the "
    "three corpus laws are all measured). Frequency ranking breaks "
    "ties deterministically by token. One token-count shuffle; the "
    "rank window runs over the vocabulary (type count, not token "
    "count) and the 4-row k table joins against it — at 100 TB the "
    "window partitions by frequency band first (the vocabulary-bounded "
    "window argument of corpus_vocab_growth).",
)
def corpus_vocab_coverage(spark: SparkSession, sf: str) -> DataFrame:
    d = _spread(T(spark, sf, "documents"))
    tf = (
        d.select(F.explode(_tokens()).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ranked = tf.select(
        "n",
        F.row_number()
        .over(Window.orderBy(F.col("n").desc(), "token"))
        .alias("rk"),
    )
    tot = tf.agg(F.sum("n").alias("total"))
    ks = spark.range(0, 4).select(
        F.element_at(
            F.array(F.lit(100), F.lit(300), F.lit(1000), F.lit(3000)),
            (F.col("id") + 1).cast("int"),
        ).cast("long").alias("k")
    )
    return (
        ks.crossJoin(ranked)
        .crossJoin(tot)
        .groupBy(F.col("k").alias("vocab_size"), "total")
        .agg(
            F.sum(F.when(F.col("rk") <= F.col("k"), F.col("n")).otherwise(0))
            .cast("long")
            .alias("covered_occurrences")
        )
        .select(
            "vocab_size",
            "covered_occurrences",
            F.expr("covered_occurrences * 1000000 DIV total").alias("coverage_ppm"),
        )
    )


@query(
    "text_compression_ratio",
    oracle=None,  # zlib runs nowhere in SQL; exactness pinned in
    # tests/test_scale_ops.py::test_compression_ratio_matches_local_zlib
    section="2.10",
    doc="Compression-ratio quality signal (deflate level 6): "
    "len(zlib(text)) * 1e6 / len(text) as integer ppm — the "
    "Gopher-family repetitiveness screen: templated/boilerplate/"
    "looping text compresses far below natural prose, catching "
    "degenerate documents that token-level heuristics "
    "(text_repetition_signals) miss when the repetition unit is long. "
    "Runs as an Arrow-batched pandas UDF (one of the few operators "
    "that genuinely needs Python: there is no relational form of "
    "deflate) — per-row cost, no shuffle, and zlib at a fixed level "
    "is bit-deterministic across platforms, so the rows-only tier is "
    "backed by a pinned local-zlib equality test rather than a SQL "
    "oracle. Flags docs under 350,000 ppm (compress to <35% of raw).",
)
def text_compression_ratio(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.functions import pandas_udf

    def _comp_ppm(texts):  # pd.Series -> pd.Series (hint-free: pandas is
        # imported lazily here, so a string annotation would not resolve
        # against module globals under `from __future__ import annotations`)
        import zlib

        def ratio(t: str) -> int:
            raw = t.encode("utf-8")
            if not raw:
                return 1_000_000
            return len(zlib.compress(raw, 6)) * 1_000_000 // len(raw)

        return texts.map(ratio)

    comp_ppm = pandas_udf(_comp_ppm, "long")

    d = _spread(T(spark, sf, "documents"))
    return d.select(
        "doc_id",
        comp_ppm(F.col("text")).alias("compress_ppm"),
    ).withColumn("too_compressible", F.col("compress_ppm") < 430_000)


@query(
    "dedup_normalized_exact",
    oracle="""
    WITH variants AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, '  ' || upper(text) || chr(9) AS text
      FROM documents WHERE doc_id % 4 = 0
      UNION ALL
      SELECT doc_id + 2000000 AS doc_id,
             regexp_replace(text, ' ', '   ', 'g') AS text
      FROM documents WHERE doc_id % 5 = 0
    ),
    canon AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '[ \\t]+', ' ', 'g')))
               AS canon_hash
      FROM variants
    )
    SELECT canon_hash, MIN(doc_id) AS keeper_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_variants
    FROM canon GROUP BY canon_hash
    """,
    section="2.10",
    doc="Normalized-exact deduplication — the tier between exact_dedup "
    "(byte identity) and the fuzzy tiers: casefold, collapse "
    "whitespace runs, trim, THEN hash-group. Catches the re-encoded/"
    "re-wrapped/case-shifted copies that byte hashing misses while "
    "staying a single one-shuffle hash aggregate (no shingles, no "
    "candidate join) — in practice this removes the bulk of web-crawl "
    "duplicates before the expensive near-dup tiers run, which is why "
    "every production pipeline orders it second. Variants are "
    "synthesized (uppercased+padded, whitespace-inflated) so the "
    "grouping is provably non-vacuous: every variant group collapses "
    "to its source doc. The canonical form's hash shuffles (16 B), "
    "never the text.",
)
def dedup_normalized_exact(spark: SparkSession, sf: str) -> DataFrame:
    d = T(spark, sf, "documents").select("doc_id", "text")
    variants = (
        d.unionByName(
            d.filter(F.col("doc_id") % 4 == 0).select(
                (F.col("doc_id") + 1_000_000).alias("doc_id"),
                F.concat(F.lit("  "), F.upper("text"), F.lit("\t")).alias("text"),
            )
        )
        .unionByName(
            d.filter(F.col("doc_id") % 5 == 0).select(
                (F.col("doc_id") + 2_000_000).alias("doc_id"),
                F.regexp_replace("text", " ", "   ").alias("text"),
            )
        )
    )
    canon = F.md5(F.trim(F.regexp_replace(F.lower("text"), "[ \\t]+", " ")))
    return variants.groupBy(canon.alias("canon_hash")).agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count(F.lit(1)).alias("n_variants"),
    )


@query(
    "text_langid_confusion",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, {_O_TOKENS} AS toks FROM documents),
    s AS (
      SELECT doc_id, lang,
             len(list_filter(toks, x -> list_contains(['the','a','is','of'], x))) AS en_hits,
             len(list_filter(toks, x -> list_contains(['der','die','das','und'], x))) AS de_hits,
             len(list_filter(toks, x -> list_contains(['le','la','et','les'], x))) AS fr_hits
      FROM t
    ),
    pred AS (
      SELECT lang,
             CASE WHEN de_hits > en_hits AND de_hits > fr_hits THEN 'de'
                  WHEN fr_hits > en_hits AND fr_hits >= de_hits THEN 'fr'
                  WHEN en_hits > 0 THEN 'en'
                  ELSE 'unknown' END AS lang_guess
      FROM s
    ),
    cm AS (
      SELECT lang AS true_lang, lang_guess AS pred_lang,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM pred GROUP BY lang, lang_guess
    ),
    tot AS (SELECT true_lang, SUM(n) AS t FROM cm GROUP BY true_lang)
    SELECT cm.true_lang, cm.pred_lang, cm.n,
           CAST(cm.n * 1000000 // tot.t AS BIGINT) AS row_share_ppm
    FROM cm JOIN tot USING (true_lang)
    """,
    section="2.10",
    doc="Language-ID CONFUSION MATRIX — the evaluation pass that turns "
    "text_langid from a heuristic into a measured classifier: per "
    "(true label, predicted) cell, the count and the row-normalized "
    "share in integer ppm (per-class recall lives on the diagonal). "
    "This is the model-eval query shape every labeled-data pipeline "
    "runs — classifier vs ground truth, grouped twice (cells, then "
    "row totals) with the share computed by exact integer division. "
    "Cells are bounded by |langs|^2, so everything after the per-row "
    "prediction is dim-sized; the prediction itself is the zero-"
    "shuffle stopword profile of text_langid.",
)
def text_langid_confusion(spark: SparkSession, sf: str) -> DataFrame:
    d = T(spark, sf, "documents")
    toks = _tokens()

    def hits(words: list[str]) -> F.Column:
        return F.size(F.filter(toks, lambda x: x.isin(*words)))

    en, de, fr = (
        hits(["the", "a", "is", "of"]),
        hits(["der", "die", "das", "und"]),
        hits(["le", "la", "et", "les"]),
    )
    pred = d.select(
        "lang",
        F.when((de > en) & (de > fr), "de")
        .when((fr > en) & (fr >= de), "fr")
        .when(en > 0, "en")
        .otherwise("unknown")
        .alias("lang_guess"),
    )
    cm = pred.groupBy(
        F.col("lang").alias("true_lang"), F.col("lang_guess").alias("pred_lang")
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = cm.groupBy("true_lang").agg(F.sum("n").alias("t"))
    return cm.join(tot, "true_lang").select(
        "true_lang",
        "pred_lang",
        "n",
        F.expr("n * 1000000 DIV t").alias("row_share_ppm"),
    )


@query(
    "text_strip_markup",
    oracle="""
    WITH contaminated AS (
      SELECT doc_id,
             '<div class="c"><p>' ||
             replace(substr(text, 1, 120), ' ', '&nbsp; ') ||
             '</p><br/><a href="http://x.test">link</a>&amp;tail</div>'
               AS html
      FROM documents
    ),
    stripped AS (
      SELECT doc_id,
             trim(regexp_replace(
               replace(replace(replace(replace(
                 regexp_replace(html, '<[^>]*>', ' ', 'g'),
                 '&nbsp;', ' '), '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
               ' +', ' ', 'g')) AS clean
      FROM contaminated
    )
    SELECT doc_id, clean,
           CAST(length(clean) AS BIGINT) AS n_chars,
           clean LIKE '%<%' OR clean LIKE '%&amp;%' AS residue
    FROM stripped
    """,
    section="2.10",
    doc="Markup stripping — the first cleaning pass of every web-crawl "
    "corpus: documents are wrapped in synthesized HTML (tags, entity-"
    "encoded spaces, a link, an &amp; entity), then the operator "
    "removes tags (single regex — tags never nest inside a tag "
    "token), decodes the four load-bearing entities in the "
    "longest-first order that keeps '&amp;lt;' honest, and collapses "
    "the whitespace the removals leave. The residue flag audits that "
    "no markup survives (non-vacuously false everywhere — and it "
    "would catch a regression). Zero shuffle, pure codegen "
    "expressions; backslash-free regexes execute byte-identical in "
    "both engines (dedup_url_canonicalize's rule).",
)
def text_strip_markup(spark: SparkSession, sf: str) -> DataFrame:
    d = T(spark, sf, "documents")
    html = F.concat(
        F.lit('<div class="c"><p>'),
        F.regexp_replace(F.substring("text", 1, 120), " ", "&nbsp; "),
        F.lit('</p><br/><a href="http://x.test">link</a>&amp;tail</div>'),
    )
    no_tags = F.regexp_replace(html, "<[^>]*>", " ")
    decoded = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(no_tags, "&nbsp;", " "), "&amp;", "&"
            ),
            "&lt;",
            "<",
        ),
        "&gt;",
        ">",
    )
    clean = F.trim(F.regexp_replace(decoded, " +", " "))
    return d.select(
        "doc_id",
        clean.alias("clean"),
        F.length(clean).cast("long").alias("n_chars"),
        (clean.like("%<%") | clean.like("%&amp;%")).alias("residue"),
    )


@query(
    "media_image_phash_dedup",
    oracle=None,  # no SQL PPM decoder/bit-pool exists; exactness + grouping
    # behavior pinned in tests/test_multimodal.py (phash tests)
    section="2.10",
    doc="Perceptual-hash IMAGE dedup — the multimodal twin of "
    "dedup_normalized_exact: every third PPM gets a brightness-shifted "
    "re-encode (same picture, different bytes — invisible to "
    "exact_dedup's content hash), images map to a 64-bit average hash "
    "(8x8 block-pooled luminance, bits by exact integer "
    "cross-multiplication, llm/multimodal.py:image_average_hash), and "
    "grouping by phash collapses each visual duplicate onto its "
    "source. Output is the dedup manifest: per phash group, image "
    "count and keeper id. Arrow-batched mapInPandas decode (the real "
    "P6 parser), one 8-byte-key shuffle — at 100 TB the hash "
    "shuffles, never the pixels; Hamming-radius banding (the simhash "
    "16-bit band trick) is the near-match extension.",
)
def media_image_phash_dedup(spark: SparkSession, sf: str) -> DataFrame:
    from etl_covid19_brasil_spark.llm.multimodal import (
        image_average_hash,
        synth_ppm_near_dup_media,
    )

    media = synth_ppm_near_dup_media(_spread(T(spark, sf, "documents")))
    hashed = image_average_hash(media)
    return hashed.groupBy("phash").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.min("media_id").alias("keeper_media_id"),
    )


@query(
    "media_audio_fingerprint_dedup",
    oracle=None,  # no SQL WAV decoder; scale-invariance + grouping pinned
    # in tests/test_multimodal.py (audio fingerprint tests)
    section="2.10",
    doc="Energy-profile AUDIO dedup — the audio sibling of "
    "media_image_phash_dedup: every third clip gets an exactly "
    "amplitude-doubled re-encode (same recording, different gain, "
    "different bytes), clips map to a 16-bit energy fingerprint "
    "(16 time buckets, bits by integer cross-multiplication — a "
    "uniform gain multiplies both comparison sides identically, so "
    "re-gained copies share the fingerprint EXACTLY, no tolerance "
    "needed), and grouping collapses each copy onto its source. "
    "Arrow-batched mapInPandas over the real RIFF/WAV parser; the "
    "2-byte fingerprint shuffles, never the samples.",
)
def media_audio_fingerprint_dedup(spark: SparkSession, sf: str) -> DataFrame:
    from etl_covid19_brasil_spark.llm.multimodal import (
        audio_energy_fingerprint,
        synth_wav_near_dup_media,
    )

    media = synth_wav_near_dup_media(_spread(T(spark, sf, "documents")))
    fp = audio_energy_fingerprint(media)
    return fp.groupBy("fingerprint").agg(
        F.count(F.lit(1)).alias("n_clips"),
        F.min("media_id").alias("keeper_media_id"),
    )


@query(
    "media_video_phash_dedup",
    oracle=None,  # no SQL container parser; invariance + one-frame-change
    # sensitivity pinned in tests/test_multimodal.py (video phash tests)
    section="2.10",
    doc="Perceptual VIDEO dedup completing the modality trio (image "
    "phash, audio fingerprint): each document's 'video' is a real "
    "multi-frame container (4 concatenated P6 PPM frames, parsed back "
    "by walking the actual headers — split_ppm_frames, not byte "
    "slicing), every frame maps to the image aHash, and the ordered "
    "frame-hash sequence collapses to one 63-bit signature. A "
    "re-encoded copy whose every frame is visually identical "
    "(uniform +16 brightness, pixels capped so nothing clips) shares "
    "the signature EXACTLY; one changed frame changes it — both "
    "directions pinned in tests. Arrow-batched mapInPandas; the "
    "8-byte signature shuffles, never the frames.",
)
def media_video_phash_dedup(spark: SparkSession, sf: str) -> DataFrame:
    from etl_covid19_brasil_spark.llm.multimodal import (
        synth_video_near_dup_media,
        video_phash_signature,
    )

    media = synth_video_near_dup_media(_spread(T(spark, sf, "documents")))
    sig = video_phash_signature(media)
    return sig.groupBy("signature").agg(
        F.count(F.lit(1)).alias("n_videos"),
        F.min("media_id").alias("keeper_media_id"),
        F.min("n_frames").alias("n_frames"),
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval (RRF) and semantic dedup — the fusion/pruning layer a
# RAG or curation pipeline runs on top of the lexical + dense rankers
# ---------------------------------------------------------------------------

# Dense query vector: hash-derived ±1 signs (the embedding_random_projection
# trick, row j=101 of the virtual sign matrix). |q| is the constant sqrt(64),
# so ranking by the ordered-fold dot(ne, q) IS ranking by cosine — the
# normalization constant cancels in the ORDER BY.
_RRF_QJ = 101
_RRF_POOL = 50
_RRF_K0 = 60


@query(
    "rank_hybrid_rrf",
    oracle=f"""
    WITH toks AS (SELECT doc_id, unnest({_O_TOKENS}) AS token FROM documents),
    qtoks AS (SELECT doc_id, token FROM toks WHERE token IN {_RT_SQL}),
    n_total AS (SELECT COUNT(*) AS n_docs FROM documents),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM qtoks GROUP BY doc_id, token),
    dfs AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM qtoks GROUP BY token),
    lex_scored AS (
      SELECT tf.doc_id,
             CAST(SUM(tf.tf * CAST(floor(ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE))
                      * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS score_u6
      FROM tf JOIN dfs ON tf.token = dfs.token, n_total
      GROUP BY tf.doc_id
    ),
    lex_ranked AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score_u6 DESC, doc_id ASC)
               AS lex_rank
      FROM lex_scored
      ORDER BY lex_rank LIMIT {_RRF_POOL}
    ),
    n AS (SELECT vec_id, {_O_NORMED} AS ne FROM embeddings),
    dense_scored AS (
      SELECT vec_id,
             list_reduce(list_transform(range(1, len(ne) + 1),
               i -> {_SIGN_SQL.format(i='i', j=_RRF_QJ)} * ne[i]),
               (x, y) -> x + y) AS dotq
      FROM n
    ),
    dense_ranked AS (
      SELECT vec_id AS doc_id,
             ROW_NUMBER() OVER (ORDER BY dotq DESC, vec_id ASC) AS dense_rank
      FROM dense_scored
      ORDER BY dense_rank LIMIT {_RRF_POOL}
    ),
    fused AS (
      SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
             CAST(COALESCE(l.lex_rank, 0) AS BIGINT) AS lex_rank,
             CAST(COALESCE(d.dense_rank, 0) AS BIGINT) AS dense_rank,
             CAST(COALESCE(1000000 // ({_RRF_K0} + l.lex_rank), 0)
                + COALESCE(1000000 // ({_RRF_K0} + d.dense_rank), 0) AS BIGINT)
               AS rrf_u6
      FROM lex_ranked l FULL OUTER JOIN dense_ranked d ON l.doc_id = d.doc_id
    )
    SELECT doc_id, lex_rank, dense_rank, rrf_u6
    FROM fused ORDER BY rrf_u6 DESC, doc_id ASC LIMIT 10
    """,
    section="2.10",
    doc=f"Hybrid retrieval via reciprocal-rank fusion: the lexical ranking "
    "(TF-IDF over the fixed query terms, integer micro-unit scores) and "
    "the dense ranking (ordered-fold dot of each normalized embedding "
    "with a hash-derived ±1 query vector; the constant query norm "
    "cancels in the ordering) each contribute floor(1e6/(60+rank)) for "
    f"their top-{_RRF_POOL}, fused by a FULL OUTER join on the doc id — "
    "the standard two-tower merge of a RAG stack, with rank-0 sentinel "
    "for list-absent sides. Every fused score is exact integer "
    "arithmetic over window ranks with deterministic tie-breaks, so "
    "the fusion is hash-stable even though the underlying dense scores "
    "are doubles. Scale shape: each ranking is a "
    f"TakeOrderedAndProject to {_RRF_POOL} rows, so the fusion join is "
    "a few-row broadcast regardless of corpus size; the lexical side "
    "prunes the exploded token stream on the query terms before any "
    "shuffle and the dense side is one map-side fold per vector.",
)
def rank_hybrid_rrf(spark: SparkSession, sf: str) -> DataFrame:
    d = T(spark, sf, "documents")
    # r16 optimization round: derive df from tf (see rank_tfidf_topk)
    # — one corpus tokenize pass instead of two.
    qtoks = d.select("doc_id", F.explode(_tokens()).alias("token")).filter(
        F.col("token").isin(*_RANK_TERMS)
    )
    n_total = d.agg(F.count(F.lit(1)).alias("n_docs"))
    tf = qtoks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfs = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    lex_scored = (
        tf.join(F.broadcast(dfs), "token")
        .crossJoin(F.broadcast(n_total))
        .select(
            "doc_id",
            (
                F.col("tf")
                * F.expr(
                    "CAST(floor(ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE))"
                    " * 1000000.0 + 0.5) AS BIGINT)"
                )
            ).alias("w_u6"),
        )
        .groupBy("doc_id")
        .agg(F.sum("w_u6").alias("score_u6"))
    )
    # Top-pool first (TakeOrderedAndProject — no global sort), THEN rank:
    # the unpartitioned window only ever sees _RRF_POOL rows.
    lw = Window.orderBy(F.desc("score_u6"), F.asc("doc_id"))
    lex_ranked = (
        lex_scored.orderBy(F.desc("score_u6"), F.asc("doc_id"))
        .limit(_RRF_POOL)
        .withColumn("lex_rank", F.row_number().over(lw))
        .select("doc_id", "lex_rank")
    )
    # r16 optimization round: spread the per-vector fold — the dense
    # scoring (hash-sign fold over 64 components) measured 0.9 s pinned
    # on the scan's single split; round-robin across the cluster it is
    # embarrassingly parallel (guide §2.5 input-parallelism).
    e = _spread(T(spark, sf, "embeddings"))
    ne = F.transform(
        F.col("embedding"),
        lambda x: x.cast("double") / F.sqrt(_dot(F.col("embedding"), F.col("embedding"))),
    )
    dotq = F.aggregate(
        F.transform(ne, lambda x, i: _rp_sign(i + 1, _RRF_QJ) * x),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    dw = Window.orderBy(F.desc("dotq"), F.asc("vec_id"))
    dense_ranked = (
        e.select("vec_id", dotq.alias("dotq"))
        .orderBy(F.desc("dotq"), F.asc("vec_id"))
        .limit(_RRF_POOL)
        .withColumn("dense_rank", F.row_number().over(dw))
        .select(F.col("vec_id").alias("doc_id"), "dense_rank")
    )
    fused = (
        lex_ranked.join(dense_ranked, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce("lex_rank", F.lit(0)).cast("long").alias("lex_rank"),
            F.coalesce("dense_rank", F.lit(0)).cast("long").alias("dense_rank"),
            (
                F.coalesce(
                    F.expr(f"1000000 DIV ({_RRF_K0} + lex_rank)"), F.lit(0)
                )
                + F.coalesce(
                    F.expr(f"1000000 DIV ({_RRF_K0} + dense_rank)"), F.lit(0)
                )
            )
            .cast("long")
            .alias("rrf_u6"),
        )
    )
    return fused.orderBy(F.desc("rrf_u6"), F.asc("doc_id")).limit(10)


# SemDeDup cell planes: rows 200..207 of the virtual sign matrix.
_SD_PLANES = 8
_SD_J0 = 200
_SD_TAU_U6 = 950_000


def _sd_cell_sql() -> str:
    bits = []
    for p in range(_SD_PLANES):
        sgn = _SIGN_SQL.format(i="i", j=_SD_J0 + p)
        dot = (
            f"list_reduce(list_transform(range(1, len(ne) + 1), i -> {sgn} * ne[i]), "
            "(x, y) -> x + y)"
        )
        bits.append(f"CASE WHEN {dot} >= 0.0 THEN {1 << p} ELSE 0 END")
    return " + ".join(bits)


@query(
    "semdedup_cells",
    oracle=f"""
    WITH n AS (SELECT vec_id, {_O_NORMED} AS ne FROM embeddings),
    cells AS (SELECT vec_id, ne, CAST({_sd_cell_sql()} AS BIGINT) AS cell FROM n),
    reps AS (SELECT cell, MIN(vec_id) AS rep_id FROM cells GROUP BY cell),
    joined AS (
      SELECT c.vec_id, c.cell, r.rep_id,
             CAST(floor(list_reduce(list_transform(range(1, len(c.ne) + 1),
                    i -> c.ne[i] * rv.ne[i]), (x, y) -> x + y)
                  * 1000000.0 + 0.5) AS BIGINT) AS cos_u6
      FROM cells c
      JOIN reps r ON c.cell = r.cell
      JOIN cells rv ON rv.vec_id = r.rep_id
    )
    SELECT vec_id, cell, rep_id, cos_u6,
           (vec_id <> rep_id AND cos_u6 >= {_SD_TAU_U6}) AS is_semdup
    FROM joined
    """,
    section="2.10",
    doc="SemDeDup-style semantic deduplication (Abbas et al. 2023, "
    "arXiv:2303.09540): partition the embedding space into "
    f"2^{_SD_PLANES} hyperplane cells (hash-derived ±1 planes — rows "
    f"{_SD_J0}.. of the virtual sign matrix the projection/LSH tiers "
    "share), elect the minimum-id member of each cell as its exemplar, "
    "and flag every other member whose cosine to the exemplar clears "
    f"{_SD_TAU_U6 / 1e6} as a semantic duplicate. The pruning is "
    "linear, not quadratic: each vector is scored against exactly ONE "
    "exemplar (the SemDeDup observation that near-duplicates collapse "
    "into the same cluster, so cross-cell pairs need never be scored). "
    "Cosines are ordered folds over normalized vectors — bit-identical "
    "in both engines — then quantized to integer micro-units before "
    "the threshold compare. Scale shape: signatures are map-side; one "
    "shuffle groups cells; exemplar vectors re-join on the cell key "
    "(cell-partitioned both sides); nothing grows with corpus size "
    "except linearly.",
)
def semdedup_cells(spark: SparkSession, sf: str) -> DataFrame:
    e = T(spark, sf, "embeddings")
    ne = F.transform(
        F.col("embedding"),
        lambda x: x.cast("double") / F.sqrt(_dot(F.col("embedding"), F.col("embedding"))),
    )

    def plane_dot(p: int) -> F.Column:
        return F.aggregate(
            F.transform(F.col("ne"), lambda x, i: _rp_sign(i + 1, _SD_J0 + p) * x),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )

    cell = None
    normed = e.select("vec_id", ne.alias("ne"))
    # Pin the normalized array before the per-plane lambdas consume it:
    # eight sign-fold projections over an inlined normalize expression
    # would otherwise re-run the normalization fold per plane (the
    # round-8 tokenize-then-shingle barrier rule, applied to vectors).
    normed = normed.localCheckpoint(eager=False)
    for p in range(_SD_PLANES):
        bit = F.when(plane_dot(p) >= 0.0, F.lit(1 << p)).otherwise(F.lit(0))
        cell = bit if cell is None else cell + bit
    cells = normed.select("vec_id", "ne", cell.cast("long").alias("cell"))
    reps = cells.groupBy("cell").agg(F.min("vec_id").alias("rep_id"))
    rep_vecs = cells.select(
        F.col("vec_id").alias("rep_id"), F.col("ne").alias("rep_ne")
    )
    joined = (
        cells.join(reps, "cell")
        .join(rep_vecs, "rep_id")
        .select(
            "vec_id",
            "cell",
            "rep_id",
            F.floor(
                F.aggregate(
                    F.zip_with(F.col("ne"), F.col("rep_ne"), lambda a, b: a * b),
                    F.lit(0.0),
                    lambda acc, t: acc + t,
                )
                * 1000000.0
                + 0.5
            )
            .cast("long")
            .alias("cos_u6"),
        )
    )
    return joined.select(
        "vec_id",
        "cell",
        "rep_id",
        "cos_u6",
        ((F.col("vec_id") != F.col("rep_id")) & (F.col("cos_u6") >= _SD_TAU_U6)).alias(
            "is_semdup"
        ),
    )


@query(
    "rank_mmr_diversify",
    oracle=None,  # inherently sequential greedy loop -> rows-only; pinned
    # against a pure-python replay + diversity invariant in tests/test_mmr.py
    section="2.10",
    doc="Maximal-Marginal-Relevance diversified top-10 (Carbonell & "
    "Goldstein 1998): greedy re-ranking of the 50-candidate relevance "
    "pool, each pick maximizing 0.7*relevance - 0.3*max-cosine-to-"
    "picked. The corpus-sized work (ordered-fold relevance scoring "
    "against the shared hash-derived query vector, TakeOrdered pool "
    "cut) is fully distributed; only the O(1) 50-row pool reaches the "
    "driver for the sequential loop (llm/mmr.py — the IVF-trainer "
    "bounded-collect pattern). Scores emitted as integer micro-units.",
)
def rank_mmr_diversify(spark: SparkSession, sf: str) -> DataFrame:
    from etl_covid19_brasil_spark.llm.mmr import mmr_select

    return mmr_select(T(spark, sf, "embeddings"), query_j=_RRF_QJ)


@query(
    "mine_hard_negatives",
    oracle=f"""
    WITH n AS (SELECT vec_id, label, {_O_NORMED} AS ne FROM embeddings),
    sims AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             b.label AS neighbor_label,
             {_O_NDOT.format(a='a.ne', b='b.ne')} AS cosine
      FROM n a JOIN n b ON a.label <> b.label
    ),
    ranked AS (
      SELECT query_id, neighbor_id, neighbor_label, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM sims
    )
    SELECT query_id, neighbor_id, neighbor_label, cosine, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 5
    """,
    section="2.10",
    doc="Hard-negative mining for contrastive training (llm/similarity.py:"
    "hard_negative_topk): each vector's top-5 most-similar OTHER-CLASS "
    "vectors — the pairs a metric-learning objective must push apart, "
    "mined corpus-wide. Same two-tier scale shape as similarity_topk "
    "(broadcast kernel under the index bound, cogrouped block-nested-"
    "loop beyond — the label constraint is a kernel mask riding "
    "packed-id machinery, never a join), bit-identical cosines to the "
    "DuckDB formulation via the shared ordered fold.",
)
def mine_hard_negatives(spark: SparkSession, sf: str) -> DataFrame:
    from etl_covid19_brasil_spark.llm.similarity import hard_negative_topk

    return hard_negative_topk(T(spark, sf, "embeddings"), k=5)


@query(
    "quality_classifier_train",
    oracle=None,  # iterative float training — rows-only by contract;
    # invariants (loss decrease, accuracy floor, stop-bucket weight
    # dominance) pinned in tests/test_classifier.py
    section="2.10",
    doc="Model-based quality-filter TRAINING in-engine (llm/classifier.py): "
    "full-batch logistic regression over hashing-trick token-rate "
    "features (256-dim md5-slot, the text_feature_hashing idiom), "
    "weak-supervised by above-median stop-token density — the "
    "GPT-3/CCNet-style curation classifier trained with broadcast "
    "weights and partition-partial gradient reduction (one dim+1 "
    "vector per partition reaches the driver per sweep, never rows). "
    "Output: per-iteration (loss_u6, accuracy_ppm) training curve — "
    "30 rows, O(1) in corpus size.",
)
def quality_classifier_train(spark: SparkSession, sf: str) -> DataFrame:
    from etl_covid19_brasil_spark.llm.classifier import logreg_train_quality

    mdf, _w = logreg_train_quality(T(spark, sf, "documents"))
    return mdf


@query(
    "quality_classifier_score",
    oracle="""
    WITH w AS (SELECT * FROM (VALUES (27, -1246182), (49, -9177287), (55, -7741675), (56, -6070438), (76, -3301729), (77, -4306399), (87, -1264736), (95, 188612), (96, -5227070), (105, -5057417), (109, -4350868), (122, -7064668), (125, 2661819), (129, 347292), (133, -1651033), (138, -3399952), (141, -872812), (142, 742484), (147, -4084539), (153, -3747552), (177, -3546525), (185, 119701802), (192, -7266505), (214, -4739483), (222, -4538712), (228, 2730466), (231, -5300480), (240, -1286998), (250, -6122084)) AS t(bucket, w_u6)),
    tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    cnt AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) % 256 AS bucket,
             COUNT(*) AS n
      FROM tok WHERE token <> '' GROUP BY 1, 2
    ),
    dot AS (
      SELECT c.doc_id,
             SUM(COALESCE(w.w_u6, 0) * c.n) AS d, SUM(c.n) AS n_tokens
      FROM cnt c LEFT JOIN w ON c.bucket = w.bucket
      GROUP BY 1
    )
    SELECT doc_id, CAST(d // n_tokens + (-75962) AS BIGINT) AS score_u6,
           (d // n_tokens + (-75962)) > 0 AS keep
    FROM dot
    """,
    section="2.10",
    doc="Frozen quality-model INFERENCE (llm/classifier.py:"
    "score_documents_frozen): the trained curation classifier deployed "
    "as exact integer arithmetic — token counts hit the 29-row "
    "broadcast weight table, score_u6 = dot DIV n_tokens + bias, "
    "keep = score_u6 > 0 (sigmoid is monotone, so the integer logit "
    "preserves the decision boundary bit-identically in any engine). "
    "Map-side explode + one doc-keyed agg; train (float, iterative — "
    "quality_classifier_train) vs deploy (integer, one scan) is the "
    "production split.",
)
def quality_classifier_score(spark: SparkSession, sf: str) -> DataFrame:
    from etl_covid19_brasil_spark.llm.classifier import score_documents_frozen

    return score_documents_frozen(T(spark, sf, "documents"))


@query(
    "mine_hard_negatives_ann",
    oracle=None,  # approximate by contract — recall vs the exact tier
    # pinned in tests/test_ann_recall.py::test_hard_negative_ann_recall
    section="2.10",
    doc="SCALE TWIN of mine_hard_negatives: IVF-celled approximate "
    "hard-negative mining (llm/ann.py:ivf_topk with label_col) — "
    "other-class top-k candidates meet only inside probed Voronoi "
    "cells, so candidate volume is n x n_probe x k (linear) instead of "
    "the exact tier's n^2 kernel. The label mask is applied inside the "
    "per-cell kernel via the same id-packing as the exact tier, so "
    "within a probed cell the result is exact; recall loss comes only "
    "from cell-probing, pinned >= 0.8 against mine_hard_negatives.",
)
def mine_hard_negatives_ann(spark: SparkSession, sf: str) -> DataFrame:
    from etl_covid19_brasil_spark.llm.ann import ivf_topk

    return ivf_topk(T(spark, sf, "embeddings"), k=5, label_col="label")


@query(
    "corpus_temperature_mix",
    oracle="""
    WITH counts AS (
      SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1
    ),
    scaled AS (
      SELECT source, n_docs,
             CAST(FLOOR(sqrt(n_docs) * 1000000 + 0.5) AS BIGINT) AS s_u6
      FROM counts
    ),
    tot AS (SELECT CAST(SUM(s_u6) AS BIGINT) AS total_u6 FROM scaled)
    SELECT s.source, s.n_docs,
           CAST(s.s_u6 * 1000000 // t.total_u6 AS BIGINT) AS weight_ppm,
           CAST((s.s_u6 * 100000) // t.total_u6 AS BIGINT) AS quota_docs
    FROM scaled s, tot t
    ORDER BY s.source
    """,
    section="2.10",
    doc="Temperature-scaled source mixing (T = 0.5, the mT5/XLM-R "
    "multilingual balancing trick): sampling weight per source ∝ "
    "n_docs^T, flattening the source distribution so long-tail sources "
    "are upsampled relative to their natural share. Determinism: "
    "sqrt(BIGINT) is a correctly-rounded IEEE op, quantized to integer "
    "micro-units BEFORE the cross-source sum, so the normalizing "
    "denominator is an exact integer in both engines and the ppm "
    "weights/quotas (for a 100k-doc budget) are pure integer division. "
    "One partial-aggregated groupBy + a 1-row broadcast total.",
)
def corpus_temperature_mix(spark: SparkSession, sf: str) -> DataFrame:
    counts = (
        T(spark, sf, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    scaled = counts.withColumn(
        "s_u6", F.floor(F.sqrt(F.col("n_docs")) * 1000000 + 0.5).cast("long")
    )
    tot = scaled.agg(F.sum("s_u6").alias("total_u6"))
    return (
        scaled.join(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            F.expr("s_u6 * 1000000 DIV total_u6").alias("weight_ppm"),
            F.expr("(s_u6 * 100000) DIV total_u6").alias("quota_docs"),
        )
        .orderBy("source")
    )


@query(
    "curation_perplexity_filter",
    oracle=f"""
    WITH toks AS (SELECT doc_id, unnest({_O_TOKENS}) AS token FROM documents),
    freq AS (SELECT token, COUNT(*) AS n FROM toks GROUP BY token),
    total AS (SELECT CAST(SUM(n) AS BIGINT) AS big_n FROM freq),
    scored AS (
      SELECT token,
             CAST(floor(ln(CAST(big_n AS DOUBLE) / n) * 1000000 + 0.5)
               AS BIGINT) AS nll_u6
      FROM freq, total
    ),
    per_doc AS (
      SELECT t.doc_id, CAST(SUM(s.nll_u6) // COUNT(*) AS BIGINT) AS avg_nll_u6
      FROM toks t JOIN scored s ON t.token = s.token
      GROUP BY 1
    ),
    cut AS (SELECT quantile_cont(avg_nll_u6, 0.9) AS p90 FROM per_doc)
    SELECT d.doc_id, d.avg_nll_u6, d.avg_nll_u6 <= c.p90 AS keep
    FROM per_doc d, cut c
    """,
    section="2.10",
    doc="Perplexity-based curation filter (the CCNet/GPT-3 LM-filter "
    "step, using the corpus's own unigram LM as the scorer): keep the "
    "90% of documents whose mean token NLL is at or below the corpus "
    "p90 — high-perplexity docs are the gibberish/boilerplate tail. "
    "Composes text_unigram_logprob's exact micro-unit scoring (integer "
    "mean NLL per doc) with a single interpolated-percentile cut "
    "(agg_percentile precedent) broadcast back as a 1-row threshold. "
    "Same scale posture as the scorer: hint-free vocabulary join (AQE "
    "broadcasts while it fits), one doc-keyed agg, O(1) driver "
    "traffic.",
)
def curation_perplexity_filter(spark: SparkSession, sf: str) -> DataFrame:
    d = T(spark, sf, "documents")
    toks = d.select("doc_id", F.explode(_tokens()).alias("token"))
    freq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    total = freq.agg(F.sum("n").cast("long").alias("big_n"))
    scored = freq.crossJoin(F.broadcast(total)).select(
        "token",
        F.floor(F.log(F.col("big_n").cast("double") / F.col("n")) * 1000000 + 0.5)
        .cast("long")
        .alias("nll_u6"),
    )
    per_doc = (
        toks.join(scored, "token")
        .groupBy("doc_id")
        .agg(F.expr("sum(nll_u6) div count(*)").alias("avg_nll_u6"))
    )
    cut = per_doc.agg(F.expr("percentile(avg_nll_u6, 0.9)").alias("p90"))
    return per_doc.join(F.broadcast(cut)).select(
        "doc_id",
        "avg_nll_u6",
        (F.col("avg_nll_u6") <= F.col("p90")).alias("keep"),
    )


@query(
    "decontaminate_bloom_prefilter",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, {_O_SHINGLES.format(w=f'({_O_TOKENS})')} AS sh FROM documents
    ),
    ev AS (SELECT DISTINCT unnest(sh) AS s FROM sh WHERE doc_id % 100 = 0),
    tr AS (
      SELECT doc_id, len(sh) AS n_shingles, unnest(sh) AS s
      FROM sh WHERE doc_id % 100 <> 0
    )
    SELECT tr.doc_id,
           tr.n_shingles,
           COUNT(*) AS n_contaminated,
           CAST(COUNT(*) AS DOUBLE) / tr.n_shingles AS contamination
    FROM tr JOIN ev USING (s)
    GROUP BY tr.doc_id, tr.n_shingles
    """,
    section="2.10",
    doc="Decontamination at the 100 TB shape: the training shingle "
    "stream is pre-pruned by a BLOOM FILTER of the eval vocabulary "
    "(operators/bloom.py — bitmap words broadcast as one map row) "
    "before the exact broadcast-join verification, so when the eval "
    "set outgrows comfortable broadcast the stream still drops "
    "~(1-fpr) of non-matching shingles map-side without shuffling "
    "them. No false negatives, and the exact join behind it removes "
    "false positives — the OUTPUT is bit-identical to "
    "decontaminate_ngram_overlap (the oracle is the same SQL; the "
    "hash match proves the bloom stage is a pure prefilter).",
)
def decontaminate_bloom_prefilter(spark: SparkSession, sf: str) -> DataFrame:
    from etl_covid19_brasil_spark.operators.bloom import build_bloom, might_contain

    tr, ev = _decontam_parts(spark, sf)
    num_bits, n_hashes = 1 << 15, 3
    bf = build_bloom(ev, "s", num_bits, n_hashes).withColumnRenamed("bf", "__bf")
    pruned = (
        tr.crossJoin(F.broadcast(bf))
        .filter(might_contain(F.col("__bf"), F.col("s"), num_bits, n_hashes))
        .drop("__bf")
    )
    return _contamination(pruned, ev)


@query(
    "embedding_kmeans_elbow",
    oracle=None,  # iterative float training — rows-only; monotonicity
    # and assignment-validity pinned in tests/test_classifier.py
    section="2.10",
    doc="K-selection ELBOW CURVE for the embedding quantizer: "
    "kmeans_lloyd (llm/ann.py) trains at k = 2/4/8 and each model's "
    "INERTIA (sum of 1 - cosine-to-assigned-centroid) is measured in "
    "one Arrow-batched partial-sum pass — per-partition scalars to the "
    "driver, never vectors. Inertia must fall as k grows (pinned); "
    "the curve is how a deployment picks n_cells for ann_ivf_trained "
    "instead of guessing. 3 Lloyd sweeps per k bound the cost; each "
    "sweep is the documented two-shuffle shape, so the whole curve is "
    "O(k_values x sweeps) linear scans.",
)
def embedding_kmeans_elbow(spark: SparkSession, sf: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from etl_covid19_brasil_spark.llm.ann import kmeans_lloyd
    from etl_covid19_brasil_spark.llm.similarity import _normalize, _ordered_dot

    emb = T(spark, sf, "embeddings")
    rows = []
    for k in (2, 4, 8):
        cents = kmeans_lloyd(emb, k=k, iters=3)
        bc = spark.sparkContext.broadcast(cents)

        def partials(batches):
            cmat = bc.value
            for pdf in batches:
                mat = _normalize(np.stack(pdf["embedding"].to_numpy()).astype(np.float64))
                sims = _ordered_dot(mat[:, None, :], cmat[None, :, :])
                best = np.max(sims, axis=1)
                yield pd.DataFrame({"inertia": [float(np.sum(1.0 - best))], "n": [len(mat)]})

        agg = (
            emb.select("embedding")
            .mapInPandas(partials, schema="inertia double, n long")
            .groupBy()
            .agg(F.sum("inertia").alias("inertia"), F.sum("n").alias("n"))
            .collect()[0]
        )
        rows.append((k, int(agg["inertia"] * 1e3 // 1), int(agg["n"])))
    return spark.createDataFrame(rows, "k int, inertia_u3 long, n_vectors long")


@query(
    "corpus_bigram_pmi_topk",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_O_TOKENS} AS t FROM documents),
    uni AS (
      SELECT token, COUNT(*) AS c1 FROM (
        SELECT unnest(t) AS token FROM toks) GROUP BY token
    ),
    tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS n FROM uni),
    bi AS (
      SELECT bg, COUNT(*) AS c12 FROM (
        SELECT unnest(list_transform(range(1, len(t)),
                                     i -> t[i] || ' ' || t[i + 1])) AS bg
        FROM toks WHERE len(t) >= 2) GROUP BY bg
    ),
    scored AS (
      SELECT bi.bg, bi.c12,
             CAST(floor(ln(CAST(bi.c12 AS DOUBLE) * tot.n
                           / (a.c1 * CAST(b.c1 AS DOUBLE)))
                        * 1000000 + 0.5) AS BIGINT) AS pmi_u6
      FROM bi
      JOIN uni a ON a.token = split_part(bi.bg, ' ', 1)
      JOIN uni b ON b.token = split_part(bi.bg, ' ', 2)
      CROSS JOIN tot
      WHERE bi.c12 >= 20
    )
    SELECT bg AS bigram, c12 AS n_pair, pmi_u6
    FROM scored ORDER BY pmi_u6 DESC, bigram LIMIT 20
    """,
    section="2.10",
    doc="Adjacent-pair PMI collocations (the word2vec-era phrase-"
    "detection statistic): PMI(a,b) = ln(c12 * N / (c1(a) * c1(b))) "
    "over adjacent token pairs with a count-20 support floor (PMI is "
    "notoriously noisy on rare pairs — the floor is part of the "
    "method). The association measure next to text_bigram_logprob's "
    "CONDITIONAL score: logprob ranks how predictable the next token "
    "is, PMI ranks how non-independent the pair is. One token-keyed "
    "unigram agg + one pair agg; the unigram table joins the pair "
    "stream hint-free (Heaps'-law growth — the text_unigram_logprob "
    "broadcast-discipline note applies verbatim). Micro-unit ln "
    "quantization, deterministic double expression shared by both "
    "engines; ties broken on the bigram string.",
)
def corpus_bigram_pmi_topk(spark: SparkSession, sf: str) -> DataFrame:
    d = T(spark, sf, "documents").select(_tokens().alias("t"))
    uni = (
        d.select(F.explode("t").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    tot = uni.agg(F.sum("c1").cast("long").alias("n"))
    bi = (
        d.filter(F.size("t") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("t") - 2),
                    lambda i: F.concat_ws(" ", F.col("t")[i], F.col("t")[i + 1]),
                )
            ).alias("bg")
        )
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("c12"))
        .filter(F.col("c12") >= 20)
    )
    a = uni.select(F.col("token").alias("ta"), F.col("c1").alias("ca"))
    b = uni.select(F.col("token").alias("tb"), F.col("c1").alias("cb"))
    return (
        bi.join(a, F.split(F.col("bg"), " ")[0] == F.col("ta"))
        .join(b, F.split(F.col("bg"), " ")[1] == F.col("tb"))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("bg").alias("bigram"),
            F.col("c12").alias("n_pair"),
            F.floor(
                F.log(
                    F.col("c12").cast("double")
                    * F.col("n")
                    / (F.col("ca") * F.col("cb").cast("double"))
                )
                * 1000000
                + 0.5
            )
            .cast("long")
            .alias("pmi_u6"),
        )
        .orderBy(F.desc("pmi_u6"), "bigram")
        .limit(20)
    )


@query(
    "ann_topk_auto",
    oracle=None,  # routed tiers are approximate by construction -> rows-only
    section="2.10",
    doc="The ONE ANN front door (VERDICT r13 item 3): pick_ann_tier "
    "routes exact / IVF-exact / IVF-PQ / LSH from the corpus's measured "
    "size and cell shape — the README's measured tier menu "
    "(SCALECHECK_r13) as a routing function, with the dispatch family's "
    "conservative mis-route direction (a wrong route costs compute, "
    "never recall). All tiers emit one (query_id, neighbor_id, cosine, "
    "rank) schema. At gate scale (~1k vectors) the size gate routes the "
    "exact broadcast tier — recall 1.0 by construction; routed-tier "
    "recall floors at 8x both shapes pinned in tests/test_ann_recall.py.",
    added=14,  # r14 — sorts AFTER the not-yet-driver-sampled backlog
)
def ann_topk_auto(spark: SparkSession, sf: str) -> DataFrame:
    from etl_covid19_brasil_spark.llm.ann import ann_topk_auto as _auto

    return _auto(T(spark, sf, "embeddings"), k=5)


@query(
    "rank_maxsim_topk",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, token FROM (
        SELECT doc_id, token,
               row_number() OVER (PARTITION BY doc_id ORDER BY token) AS rn
        FROM (SELECT DISTINCT doc_id, unnest({_O_TOKENS}) AS token FROM documents)
      ) WHERE rn <= 8
    ),
    js AS (SELECT unnest(generate_series(1, 8)) AS j),
    comps AS (
      SELECT doc_id, token, j,
             CAST(ascii(substr(md5(token || '#' || CAST(j AS VARCHAR)), 1, 1))
                  % 7 - 3 AS BIGINT) AS c
      FROM toks CROSS JOIN js
    ),
    qdocs AS (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 16),
    dots AS (
      SELECT qc.doc_id AS query_doc, qc.token AS q_token,
             dc.doc_id AS did, dc.token AS d_token,
             CAST(SUM(qc.c * dc.c) AS BIGINT) AS dot
      FROM comps qc
      JOIN comps dc ON qc.j = dc.j AND dc.doc_id <> qc.doc_id
      WHERE qc.doc_id IN (SELECT doc_id FROM qdocs)
      GROUP BY 1, 2, 3, 4
    ),
    best AS (
      SELECT query_doc, q_token, did, MAX(dot) AS m FROM dots GROUP BY 1, 2, 3
    ),
    scores AS (
      SELECT query_doc, did AS doc_id, CAST(SUM(m) AS BIGINT) AS maxsim
      FROM best GROUP BY 1, 2
    )
    SELECT query_doc, doc_id, maxsim, rank FROM (
      SELECT query_doc, doc_id, maxsim,
             CAST(row_number() OVER (
               PARTITION BY query_doc ORDER BY maxsim DESC, doc_id ASC
             ) AS INT) AS rank
      FROM scores
    ) WHERE rank <= 5
    """,
    section="2.10",
    doc="Late-interaction (ColBERT-style MaxSim) retrieval over MULTI-VECTOR "
    "documents — the missing ranking class next to the single-vector "
    "TF-IDF/BM25/RRF/dense tiers: each document is a BAG of per-token "
    "vectors, score(q, d) = sum over q's tokens of the max dot product "
    "against d's token vectors. Token vectors are hash-derived integer "
    "embeddings (per component: ascii of an md5 hex digit mod 7 - 3 — the "
    "embedding_random_projection pattern, md5 being the engine-portable "
    "hash), so every dot product is exact int64 arithmetic and the DuckDB "
    "oracle matches bit-for-bit. Scale shape (r16): the QUERY side (16 "
    "docs x <= 8 tokens) rides a Python broadcast as one numpy matrix "
    "into an Arrow kernel over the corpus token stream — every dot is "
    "one int64 matmul per batch with in-kernel per-doc partial maxes "
    "(the per-pair column-expression forms both measured ~6x slower "
    "outside effective codegen: ~26 s vs ~4 s at the sf0.1 bench "
    "shape, bit-identical output), one doc-count-sized merge "
    "aggregate, and the final per-query top-5 as the WindowGroupLimit "
    "pair — linear in the corpus, the standard ColBERT serving "
    "decomposition with the token index replaced by a scan (an "
    "IVF/LSH token-bucket prefilter is the documented growth path — "
    "landed r15 as rank_maxsim_prefiltered over the shared scoring "
    "core in llm/maxsim.py).",
    added=14,
)
def rank_maxsim_topk(spark: SparkSession, sf: str) -> DataFrame:
    from etl_covid19_brasil_spark.llm.maxsim import maxsim_topk

    d = T(spark, sf, "documents")
    # r16 optimization round: the first-8-distinct-tokens selection is
    # map-side array ops on the token ARRAY (zero shuffle — measured
    # 0.30 s vs 1.14 s for the exchange-based aggregate at sf0.1,
    # bit-equal), so the scorer's corpus stream needs no preprocessing
    # exchange at all.
    toks = d.select(
        "doc_id",
        F.explode(
            F.slice(F.array_sort(F.array_distinct(_tokens())), 1, 8)
        ).alias("token"),
    )
    # prefilter=False pins the exact scan form — the DuckDB-oracled
    # reference; the routed default takes it anyway below
    # MAXSIM_SCAN_MAX_TOKENS. query_docs=d: qdocs come from the
    # DOCUMENT table like the oracle's, not the token stream (a
    # NULL-text doc among the first 16 ids would otherwise shift the
    # query set — ADVICE r15).
    return maxsim_topk(
        toks, k=5, prefilter=False, query_docs=d, tokens_preselected=True
    )


@query(
    "rank_maxsim_prefiltered",
    oracle=None,  # LSH candidate generation -> rows-only; recall floor
    # vs the oracled scan form pinned in tests/test_maxsim.py
    section="2.10",
    doc="rank_maxsim_topk's GROWTH PATH (the r14 docstring's promise, "
    "VERDICT r14 item 7): LSH token-bucket candidate generation before "
    "the exact MaxSim scoring core both forms share (llm/maxsim.py). "
    "Token vectors shuffle as skinny (table, sign-code, doc_id) bucket "
    "triples; query and candidate tokens meet in a per-bucket hash join "
    "(expected bucket = |tokens|/2^P rows, so the candidate stream "
    "shrinks geometrically in the plane count where the scan's is "
    "|q_tokens| x |corpus_tokens| flat — reduction measured at the 8x "
    "probe, SCALECHECK_r15); only colliding (query_doc, doc) pairs are "
    "scored — exactly, with the same int64 dots, aggregations and "
    "WindowGroupLimit as the scan. The routed default (maxsim_topk "
    "prefilter=None) engages this form above MAXSIM_SCAN_MAX_TOKENS; "
    "this registered query pins prefilter=True so the growth path is "
    "driver-exercised at gate scale.",
    added=15,
)
def rank_maxsim_prefiltered(spark: SparkSession, sf: str) -> DataFrame:
    from etl_covid19_brasil_spark.llm.maxsim import maxsim_topk

    d = T(spark, sf, "documents")
    # map-side token-slot selection — see rank_maxsim_topk (r16)
    toks = d.select(
        "doc_id",
        F.explode(
            F.slice(F.array_sort(F.array_distinct(_tokens())), 1, 8)
        ).alias("token"),
    )
    return maxsim_topk(
        toks, k=5, prefilter=True, query_docs=d, tokens_preselected=True
    )


@query(
    "sample_importance_dsir",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, unnest({_O_TOKENS}) AS token FROM documents
    ),
    tb AS (
      SELECT doc_id, lang,
             (ascii(substr(md5(token), 1, 1)) % 16) * 16
             + ascii(substr(md5(token), 2, 1)) % 16 AS b
      FROM toks
    ),
    tl AS (
      SELECT lang AS tl FROM documents WHERE lang IS NOT NULL
      GROUP BY lang ORDER BY COUNT(*) DESC, lang LIMIT 1
    ),
    counts AS (
      SELECT b, CAST(COUNT(*) AS BIGINT) AS ns,
             CAST(SUM(CASE WHEN lang = (SELECT tl FROM tl) THEN 1 ELSE 0 END)
               AS BIGINT) AS nt
      FROM tb GROUP BY b
    ),
    tot AS (
      SELECT CAST(SUM(ns) AS BIGINT) AS big_ns,
             CAST(SUM(nt) AS BIGINT) AS big_nt
      FROM counts
    ),
    w AS (
      SELECT b,
             CAST(floor(ln(CAST((nt + 1) * (big_ns + 256) AS DOUBLE)
                           / ((ns + 1) * (big_nt + 256))) * 1000000 + 0.5)
               AS BIGINT) AS w_u6
      FROM counts, tot
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(w_u6) AS BIGINT) AS dsir_u6
    FROM tb JOIN w USING (b)
    GROUP BY doc_id
    ORDER BY dsir_u6 DESC, doc_id ASC
    LIMIT 20
    """,
    section="2.10",
    doc="DSIR-style importance resampling (Xie et al., data selection via "
    "importance resampling): rank documents by how much more probable "
    "their hashed-unigram feature stream is under the TARGET distribution "
    "(docs in the corpus's dominant language — a deterministic in-corpus "
    "proxy for the curated target) than under the SOURCE (the whole "
    "corpus). Tokens hash to 256 buckets via md5 hex digits (the "
    "engine-portable hash); per-bucket log-ratio ln(p_t/p_s) with add-1 "
    "smoothing is quantized to INTEGER micro-nats before the per-doc sum "
    "(the text_unigram_logprob policy — associative integer arithmetic, "
    "no summation-order drift), and both engines compute ln of the "
    "bit-identical rational double. Scale shape: one token shuffle for "
    "the 256-bucket counts, the weight table broadcasts (256 rows — "
    "FIXED size by construction, unlike a vocabulary), one map-side "
    "join + per-doc aggregation, TakeOrdered top-20. Selecting top "
    "importance-weight docs is the DSIR selection step; the sampled "
    "variant rides sample_weighted_reservoir on dsir_u6.",
    added=14,
)
def sample_importance_dsir(spark: SparkSession, sf: str) -> DataFrame:
    d = T(spark, sf, "documents")
    top_lang = (
        d.filter(F.col("lang").isNotNull())
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("lang"))
        .limit(1)
        .select(F.col("lang").alias("__tl"))
        # Degenerate all-NULL-lang corpus (ADVICE r14): collapse to ONE
        # row whose __tl is NULL — max() over zero rows — so the cross
        # join below never annihilates the stream and `lang == NULL`
        # evaluates to NULL -> nt=0 everywhere, exactly the oracle's
        # scalar-subquery semantics (its SELECT tl FROM tl yields NULL
        # on an empty tl). On a normal corpus this is max of one row.
        .agg(F.max("__tl").alias("__tl"))
    )
    bucket = (
        (F.ascii(F.substring(F.md5("token"), 1, 1)) % 16) * 16
        + F.ascii(F.substring(F.md5("token"), 2, 1)) % 16
    )
    # r16 optimization round: the raw (doc, lang, token-bucket) stream
    # was consumed TWICE (bucket counts; per-doc weight sums), so the
    # explode + two-md5 bucketing ran as two full corpus passes — and
    # on a single-split scan, single-threaded. Pre-aggregating to
    # (doc_id, lang, b, c) keyed rows makes both consumers read the
    # SAME exchange (AQE stage reuse): one spread explode/md5 pass,
    # and every downstream shuffle carries ≤256 keyed rows per doc
    # instead of one row per token (guide §2.3 aggregate-before-
    # shuffle, §2.4 share one exchange). All downstream sums weight by
    # c — exact integer arithmetic, bit-identical to the per-token sum.
    tb = (
        _spread(d)
        .select("doc_id", "lang", F.explode(_tokens()).alias("token"))
        .withColumn("b", bucket.cast("int"))
        .groupBy("doc_id", "lang", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    counts = (
        tb.crossJoin(F.broadcast(top_lang))
        .groupBy("b")
        .agg(
            F.sum("c").cast("long").alias("ns"),
            F.sum(F.when(F.col("lang") == F.col("__tl"), F.col("c")).otherwise(0))
            .cast("long")
            .alias("nt"),
        )
    )
    tot = counts.agg(
        F.sum("ns").cast("long").alias("big_ns"),
        F.sum("nt").cast("long").alias("big_nt"),
    )
    w = counts.crossJoin(F.broadcast(tot)).select(
        "b",
        F.floor(
            F.log(
                ((F.col("nt") + 1) * (F.col("big_ns") + 256)).cast("double")
                / ((F.col("ns") + 1) * (F.col("big_nt") + 256))
            )
            * 1000000
            + 0.5
        )
        .cast("long")
        .alias("w_u6"),
    )
    return (
        tb.join(F.broadcast(w), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.sum(F.col("c") * F.col("w_u6")).alias("dsir_u6"),
        )
        .orderBy(F.desc("dsir_u6"), F.asc("doc_id"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# ann_search: the two-DataFrame retrieval shape (r15, VERDICT r14 item 1).
# One hash split of embeddings (vec_id % 20 — the decontaminate split
# discipline) plays query batch vs frozen index across all four tiers;
# the three exact tiers share ONE oracle (they are bit-identical by
# contract), the approximate ivf tier is rows-only with its recall floor
# pinned in tests/test_ann_recall.py.
# ---------------------------------------------------------------------------

_O_ANN_SEARCH = f"""
    WITH n AS (SELECT vec_id, {_O_NORMED} AS ne FROM embeddings),
    q AS (SELECT * FROM n WHERE vec_id % 20 = 0),
    i AS (SELECT * FROM n WHERE vec_id % 20 <> 0),
    sims AS (
      SELECT q.vec_id AS query_id, i.vec_id AS neighbor_id,
             {_O_NDOT.format(a='q.ne', b='i.ne')} AS cosine
      FROM q JOIN i ON q.vec_id <> i.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM sims
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 5
    """


def _ann_search_split(spark: SparkSession, sf: str):
    e = T(spark, sf, "embeddings")
    return (
        e.filter(F.col("vec_id") % 20 == 0),
        e.filter(F.col("vec_id") % 20 != 0),
    )


@query(
    "ann_search_topk",
    oracle=_O_ANN_SEARCH,
    section="2.10",
    doc="Separate query-set retrieval (faiss index.search(queries, k) "
    "re-expressed on DataFrames): top-5 cosine neighbors of each held-out "
    "query vector among the frozen index split — the serving/eval shape "
    "every self-join ANN tier lacked. At gate SF the index is bounded, so "
    "the router takes the broadcast-index exact tier (recall 1.0, zero "
    "shuffle) and the result hash-matches the oracle; above the bound the "
    "same call routes via pick_ann_tier on the INDEX side "
    "(llm/search.py).",
    added=15,
)
def ann_search_topk(spark: SparkSession, sf: str) -> DataFrame:
    from etl_covid19_brasil_spark.llm.search import ann_search

    q, i = _ann_search_split(spark, sf)
    return ann_search(q, i, k=5)


@query(
    "ann_search_scan",
    oracle=_O_ANN_SEARCH,
    section="2.10",
    doc="ann_search's broadcast-QUERY scan tier forced at gate scale (an "
    "unbounded-index hint + a flat-index route): the query batch "
    "broadcasts once, the index streams through the Arrow kernel without "
    "ever shuffling its vectors, one skinny-row window merges per-task "
    "candidates (plan-pinned in tests/test_plans.py). Exact by "
    "construction — shares ann_search_topk's oracle, so the hash match "
    "proves the big-index scan tier bit-identical to the bounded tier.",
    added=15,
)
def ann_search_scan(spark: SparkSession, sf: str) -> DataFrame:
    from etl_covid19_brasil_spark.llm.ann import TierRoute
    from etl_covid19_brasil_spark.llm.search import MAX_INDEX_ROWS, ann_search

    q, i = _ann_search_split(spark, sf)
    # declare the index unbounded + flat so the scan tier runs at gate
    # scale (the tier choice is performance-only; results are exact)
    return ann_search(
        q,
        i,
        k=5,
        route=TierRoute("lsh", MAX_INDEX_ROWS + 1, 0, None),
        n_index=MAX_INDEX_ROWS + 1,
    )


@query(
    "ann_search_bnl",
    oracle=_O_ANN_SEARCH,
    section="2.10",
    doc="ann_search's cogrouped block-nested-loop tier forced at gate "
    "scale (both sides declared over their broadcast bounds): index "
    "hash-tiled, queries hash-salted, every (tile, salt) block pair "
    "meets in one cogrouped applyInPandas — no broadcast, no driver "
    "transit — then a window merge. Exact; shares ann_search_topk's "
    "oracle, proving the both-sides-big tier bit-identical.",
    added=15,
)
def ann_search_bnl(spark: SparkSession, sf: str) -> DataFrame:
    from etl_covid19_brasil_spark.llm.ann import TierRoute
    from etl_covid19_brasil_spark.llm.search import (
        MAX_INDEX_ROWS,
        QUERY_BROADCAST_MAX,
        ann_search,
    )

    q, i = _ann_search_split(spark, sf)
    return ann_search(
        q,
        i,
        k=5,
        route=TierRoute("lsh", MAX_INDEX_ROWS + 1, 0, None),
        n_index=MAX_INDEX_ROWS + 1,
        n_queries=QUERY_BROADCAST_MAX + 1,
    )


@query(
    "ann_search_ivf",
    oracle=None,  # approximate (probed cells) -> rows-only
    section="2.10",
    doc="ann_search's clustered-index IVF tier forced at gate scale "
    "(trained 16-cell Lloyd handle + an unbounded-index hint): index "
    "rows land in their home cell, queries fan to their rank-derived "
    "probe cells, exact in-cell scoring, global window top-k — the "
    "two-frame cell meet whose per-query work is n_probe x ~constant "
    "cell size regardless of index size. Recall floor vs the exact "
    "split pinned in tests/test_ann_recall.py.",
    added=15,
)
def ann_search_ivf(spark: SparkSession, sf: str) -> DataFrame:
    from etl_covid19_brasil_spark.llm.ann import TierRoute, kmeans_lloyd
    from etl_covid19_brasil_spark.llm.search import MAX_INDEX_ROWS, ann_search

    q, i = _ann_search_split(spark, sf)
    cents = kmeans_lloyd(i, k=16, iters=3)
    route = TierRoute("ivf", MAX_INDEX_ROWS + 1, 0, None, centroids=cents)
    return ann_search(q, i, k=5, route=route, n_index=MAX_INDEX_ROWS + 1)


@query(
    "ann_search_lsh",
    oracle=None,  # LSH bucket meet -> rows-only; recall floor pinned
    # at the 8x split in tests/test_ann_search.py
    section="2.10",
    doc="ann_search's SUBLINEAR tier for flat big indexes when the query "
    "side is also big (llm/search.py:lsh_search — the regime where the "
    "broadcast-query scan can't hold the batch and the cogrouped BNL's "
    "kernel work is n_q x n_idx): index rows emit one signature per "
    "table, query rows add the capped d=1 multi-probe fan (lsh_topk's "
    "banding semantics split across two frames), one (table, bucket, "
    "salt) shuffle, per-bucket Arrow kernel, global window top-k. Plane "
    "count derives from the EXACT index count (recall-bearing knob — "
    "plan-statistic overshoot on a filtered frame measured P=12 instead "
    "of 6 and collapsed recall 0.92 -> 0.37), table count from the "
    "index's measured neighbor angles. Opt-in, never a silent default: "
    "exact plans exist for every other regime. 8x flat split recall "
    "0.959 vs exact (floor 0.85 pinned).",
    added=15,
)
def ann_search_lsh(spark: SparkSession, sf: str) -> DataFrame:
    from etl_covid19_brasil_spark.llm.search import lsh_search

    q, i = _ann_search_split(spark, sf)
    return lsh_search(q, i, k=5)


@query(
    "ann_search_lsh_adc",
    oracle=None,  # LSH bucket meet + ADC candidate ranking -> rows-only;
    # recall floor vs the full-vector form pinned at the 8x flat split
    # in tests/test_ann_search.py
    section="2.10",
    doc="lsh_search's BUDGET form (VERDICT r15 item 3 — closing the "
    "full-vector tiers' T x salts vector-bytes shuffle amplification, "
    "the engine's dominant shuffle at 100 TB on flat corpora): the "
    "index side of the banding shuffle ships (vid, m byte-codes) rows "
    "instead of float64 vectors (8x payload at dim 64 / m=16; measured "
    "total shuffle bytes 3.2x lower on the index-heavy 8x split — "
    "SCALECHECK_r16), ADC scores rank "
    "candidates inside each (table, bucket, salt) group against the "
    "broadcast codebooks, a global per-query WindowGroupLimit pool "
    "keeps the best k x rerank pairs after cross-table dedup, and only "
    "pool survivors join back to exact vectors for the final cosine "
    "top-k. Raw (non-residual) codes — the flat route's measured "
    "layout. Identical planes/tables/fan/salting as lsh_search, so the "
    "added approximation is ONLY ADC ranking inside the pool bound "
    "(gate split: bit-equal to the full-vector form, recall 0.976 vs "
    "exact).",
    added=16,
)
def ann_search_lsh_adc(spark: SparkSession, sf: str) -> DataFrame:
    from etl_covid19_brasil_spark.llm.search import lsh_adc_search

    q, i = _ann_search_split(spark, sf)
    return lsh_adc_search(q, i, k=5)


@query(
    "ann_search_pq",
    oracle=None,  # compressed-index ADC tier -> rows-only; recall floor
    # at the 8x clustered split pinned in tests/test_ann_search.py
    section="2.10",
    doc="ann_search's BUDGET tier forced at gate scale (trained 16-cell "
    "handle + an unbounded-index hint on the ivfpq route): the two-frame "
    "IVF-PQ meet (llm/search.py:_ivfpq_search) — the index side shuffles "
    "only (cell, vid, 8 residual byte-codes) rows, 64x smaller than raw "
    "float64 vectors (the regime a declared index_budget_bytes names), "
    "queries fan to probe cells with full vectors, per-cell ADC scoring "
    "against broadcast codebooks with the cross-cell term restored, a "
    "global per-query WindowGroupLimit rerank pool, exact-cosine rerank "
    "join for the pool survivors only. The faiss IVF-PQ serving layout "
    "split across two frames.",
    added=15,
)
def ann_search_pq(spark: SparkSession, sf: str) -> DataFrame:
    from etl_covid19_brasil_spark.llm.ann import TierRoute, kmeans_lloyd
    from etl_covid19_brasil_spark.llm.search import MAX_INDEX_ROWS, ann_search

    q, i = _ann_search_split(spark, sf)
    cents = kmeans_lloyd(i, k=16, iters=3)
    route = TierRoute("ivfpq", MAX_INDEX_ROWS + 1, 0, None, centroids=cents)
    return ann_search(q, i, k=5, route=route, n_index=MAX_INDEX_ROWS + 1)


@query(
    "decontaminate_embedding_cross",
    oracle=f"""
    WITH n AS (SELECT vec_id, {_O_NORMED} AS ne FROM embeddings),
    q AS (SELECT * FROM n WHERE vec_id % 20 = 0),
    i AS (SELECT * FROM n WHERE vec_id % 20 <> 0),
    sims AS (
      SELECT q.vec_id AS query_id, i.vec_id AS neighbor_id,
             {_O_NDOT.format(a='q.ne', b='i.ne')} AS cosine
      FROM q JOIN i ON q.vec_id <> i.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM sims
    ),
    hits AS (
      SELECT query_id, neighbor_id, cosine FROM ranked
      WHERE rank <= 5 AND cosine >= 0.3
    )
    SELECT train_id, n_eval_hits, max_cosine, top_eval_id FROM (
      SELECT neighbor_id AS train_id, cosine AS max_cosine,
             query_id AS top_eval_id,
             CAST(COUNT(*) OVER (PARTITION BY neighbor_id) AS BIGINT)
               AS n_eval_hits,
             ROW_NUMBER() OVER (PARTITION BY neighbor_id
                                ORDER BY cosine DESC, query_id ASC) AS rn
      FROM hits
    ) WHERE rn = 1
    """,
    section="2.10",
    doc="Semantic eval-set decontamination across a train/eval split — "
    "the embedding-space twin of decontaminate_ngram_overlap, composed "
    "on ann_search: every train-split vector that appears in ANY "
    "eval-split vector's top-5 with cosine >= 0.3 is flagged with its "
    "hit count, best cosine and the eval id that found it (the docs a "
    "training pipeline must drop or audit before evals mean anything). "
    "Exact at gate scale (ann_search's bounded tier — cosines "
    "bit-identical to the oracle, proven by ann_search_topk's hash "
    "match); above the bound the same call inherits the routed tiers "
    "and their pinned recall floors. One skinny window pass over the "
    "top-k stream; no new shuffle class.",
    added=15,
)
def decontaminate_embedding_cross(spark: SparkSession, sf: str) -> DataFrame:
    from etl_covid19_brasil_spark.llm.search import ann_search

    q, i = _ann_search_split(spark, sf)
    res = ann_search(q, i, k=5).filter(F.col("cosine") >= 0.3)
    w = Window.partitionBy("neighbor_id").orderBy(
        F.desc("cosine"), F.asc("query_id")
    )
    return (
        res.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n_eval_hits",
            F.count(F.lit(1)).over(Window.partitionBy("neighbor_id")).cast("long"),
        )
        .filter(F.col("rn") == 1)
        .select(
            F.col("neighbor_id").alias("train_id"),
            "n_eval_hits",
            F.col("cosine").alias("max_cosine"),
            F.col("query_id").alias("top_eval_id"),
        )
    )


@query(
    "ann_index_append",
    oracle=_O_ANN_SEARCH,
    section="2.10",
    doc="Index lifecycle: the faiss add() + retrain-trigger serving loop "
    "on a frozen TierRoute handle (llm/ann.py:ann_index_append, VERDICT "
    "r15 item 1). The index split is built in two generations — a base "
    "(last digit < 8) the handle trains on, then a delta (last digit >= "
    "8) appended via ann_index_append: new vectors are served by "
    "assigning them to the TRAINED cells at query time (zero re-Lloyd — "
    "the engine has no materialized inverted lists to rebuild), while "
    "the append call runs the measured staleness triggers (corpus "
    "growth past 2x the training size; delta assignment-cosine below "
    "the engine's own clustered-routing threshold; the exact tier's "
    "size gate) and retrains only when one fires. ann_search over the "
    "appended union then hash-matches the oracle computed over the "
    "WHOLE index — proving append+serve returns exactly what an index "
    "built on everything returns at the exact tier; unchanged-prefix "
    "byte-stability and the post-append recall floor on the routed ivf "
    "tier are pinned in tests/test_ann_lifecycle.py.",
    added=16,
)
def ann_index_append_query(spark: SparkSession, sf: str) -> DataFrame:
    from etl_covid19_brasil_spark.llm.ann import ann_index_append, prepare_ann_route
    from etl_covid19_brasil_spark.llm.search import ann_search

    q, i = _ann_search_split(spark, sf)
    base = i.filter(F.col("vec_id") % 10 < 8)
    delta = i.filter(F.col("vec_id") % 10 >= 8)
    route = prepare_ann_route(base)
    route, union, _report = ann_index_append(route, base, delta)
    return ann_search(q, union, k=5, route=route)


@query(
    "stream_ann_enrich",
    oracle=_O_ANN_SEARCH,
    section="2.9",
    doc="Streaming x retrieval composition, ACTUALLY EXECUTED as a "
    "stream (VERDICT r15 item 2): the eval/query split of embeddings "
    "replays through readStream as 3 micro-batch files, and every "
    "foreachBatch trigger runs ann_search(batch, index, route=handle) "
    "against ONE frozen prepare_ann_route handle built before the "
    "stream starts — the online semantic-enrich/dedup serving loop "
    "(embeddings arrive continuously; the index trains once; each "
    "trigger is ordinary batch retrieval, so the whole ann_search tier "
    "menu and its plan pins apply per batch, and on ivf routes the "
    "trained centroids are never re-Lloyd'd per trigger — "
    "monkeypatch-tripwired in tests/test_ann_lifecycle.py). "
    "Oracle-grade, not rows-only: per-query top-k is independent "
    "across queries, so any micro-batch split commutes with the "
    "operator and the unioned sink hash-matches the whole-batch "
    "ann_search oracle (streaming/jobs.py:run_stream_ann_enrich).",
    added=16,
)
def stream_ann_enrich(spark: SparkSession, sf: str) -> DataFrame:
    from etl_covid19_brasil_spark.streaming.jobs import run_stream_ann_enrich

    q, i = _ann_search_split(spark, sf)
    res, _n_batches = run_stream_ann_enrich(spark, q, i, k=5, n_files=3)
    return res


@query(
    "stream_index_ingest",
    oracle=_O_ANN_SEARCH,
    section="2.9",
    doc="Online index MAINTENANCE, live-executed: a vector feed streams "
    "INTO the frozen index handle — the r16 lifecycle "
    "(ann_index_append) composed with readStream, i.e. the full "
    "production serving loop. A base index trains once "
    "(prepare_ann_route); the delta replays as 3 micro-batch files; "
    "every foreachBatch trigger appends its batch through the handle's "
    "staleness contract (trained-cell assignment, no re-Lloyd while "
    "the measured geometry holds — a fired trigger retrains over the "
    "union, and the per-batch AppendReport list is the audit trail an "
    "ingest loop alerts on); after the drain the final handle serves "
    "the query batch over everything ingested. Oracle-grade: appends "
    "commute with unions and per-query top-k is batch-split-invariant, "
    "so the served result hash-matches the whole-corpus ann_search "
    "oracle no matter how ingestion was micro-batched "
    "(streaming/jobs.py:run_stream_index_ingest; staleness-mid-stream "
    "and batch-equality pinned in tests/test_ann_lifecycle.py).",
    added=16,
)
def stream_index_ingest(spark: SparkSession, sf: str) -> DataFrame:
    from etl_covid19_brasil_spark.streaming.jobs import run_stream_index_ingest

    q, i = _ann_search_split(spark, sf)
    base = i.filter(F.col("vec_id") % 10 < 8)
    delta = i.filter(F.col("vec_id") % 10 >= 8)
    res, _reports = run_stream_index_ingest(spark, base, delta, q, k=5, n_files=3)
    return res


@query(
    "ann_index_persist",
    oracle=_O_ANN_SEARCH,
    section="2.10",
    doc="Index persistence — the faiss write_index/read_index half of "
    "the serving contract (llm/ann.py:ann_index_save/ann_index_load): "
    "the handle prepare_ann_route builds on the index split is SAVED as "
    "two parquet datasets (one meta row of tier + gate numbers + probe "
    "signals; one row per trained centroid — ordinary parquet through "
    "the session's hadoop filesystem, so the artifact lands on any "
    "scheme and any SQL engine can audit it), re-LOADED, and the query "
    "split is served entirely through the LOADED handle. The served "
    "result hash-matches the ann_search oracle — proving the save -> "
    "load -> serve path computes exactly what the in-memory handle "
    "computes (float64 -> parquet DOUBLE is lossless; trained-state "
    "byte-identity and the routed-tier equality are pinned in "
    "tests/test_ann_lifecycle.py). The artifact is O(n_cells x dim) "
    "regardless of corpus size — the handle IS the index in this "
    "engine's layout (kernels assign rows to trained cells per Arrow "
    "batch; no materialized inverted lists to serialize).",
    added=16,
)
def ann_index_persist(spark: SparkSession, sf: str) -> DataFrame:
    from pathlib import Path

    from etl_covid19_brasil_spark.llm.ann import (
        ann_index_load,
        ann_index_save,
        prepare_ann_route,
    )
    from etl_covid19_brasil_spark.llm.search import ann_search

    q, i = _ann_search_split(spark, sf)
    d = Path("/tmp/etl_spark_roundtrip") / f"ann_index_{Path(sf).name or 'sf'}"
    d.parent.mkdir(parents=True, exist_ok=True)
    ann_index_save(spark, prepare_ann_route(i), str(d))
    return ann_search(q, i, k=5, route=ann_index_load(spark, str(d)))


@query(
    "ann_index_delete",
    oracle=f"""
    WITH n AS (SELECT vec_id, {_O_NORMED} AS ne FROM embeddings),
    q AS (SELECT * FROM n WHERE vec_id % 20 = 0),
    i AS (SELECT * FROM n WHERE vec_id % 20 <> 0 AND vec_id % 10 < 8),
    sims AS (
      SELECT q.vec_id AS query_id, i.vec_id AS neighbor_id,
             {_O_NDOT.format(a='q.ne', b='i.ne')} AS cosine
      FROM q JOIN i ON q.vec_id <> i.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM sims
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 5
    """,
    section="2.10",
    doc="Index lifecycle, deletion half — faiss remove_ids on the frozen "
    "TierRoute handle (llm/ann.py:ann_index_delete), completing the "
    "train/add/delete triangle. Every index row with last digit >= 8 is "
    "tombstoned: the live frame is base ANTI-JOIN tombstones (the "
    "tombstone side broadcasts — plan-pinned; the accumulated index is "
    "never re-scanned, the one eager cost is the distinct tombstone "
    "count), the handle's trained state is untouched, and serving the "
    "live frame through the UNCHANGED handle hash-matches the oracle "
    "computed over an index that never contained those rows — deletion "
    "is exact, not eventual, because the kernels assign rows to trained "
    "cells per Arrow batch and a tombstoned row simply never reaches "
    "one. The measured staleness mirror (shrink trigger at half the "
    "training size, sized off the LIVE count on retrain) is pinned in "
    "tests/test_ann_lifecycle.py.",
    added=16,
)
def ann_index_delete_query(spark: SparkSession, sf: str) -> DataFrame:
    from etl_covid19_brasil_spark.llm.ann import ann_index_delete, prepare_ann_route
    from etl_covid19_brasil_spark.llm.search import ann_search

    q, i = _ann_search_split(spark, sf)
    route = prepare_ann_route(i)
    tomb = i.filter(F.col("vec_id") % 10 >= 8).select("vec_id")
    route, live, _report = ann_index_delete(route, i, tomb)
    return ann_search(q, live, k=5, route=route)


@query(
    "ann_search_filtered",
    oracle=f"""
    WITH n AS (SELECT vec_id, label, {_O_NORMED} AS ne FROM embeddings),
    q AS (SELECT * FROM n WHERE vec_id % 20 = 0),
    i AS (SELECT * FROM n WHERE vec_id % 20 <> 0 AND label <> 0),
    sims AS (
      SELECT q.vec_id AS query_id, i.vec_id AS neighbor_id,
             {_O_NDOT.format(a='q.ne', b='i.ne')} AS cosine
      FROM q JOIN i ON q.vec_id <> i.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM sims
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 5
    """,
    section="2.10",
    doc="Filtered retrieval — the vector-database filtered-search "
    "contract (faiss IDSelector / a WHERE clause on the index) as "
    "llm/search.py:ann_search_filtered: top-5 neighbors of each query "
    "among index vectors whose label <> 0, served through ONE handle "
    "with no per-predicate rebuild. PRE-filter, not post-filter: the "
    "predicate lands on the index frame before any tier runs, so "
    "Catalyst pushes it into the scan (plan-pinned: the predicate "
    "appears in PushedFilters), every tier returns top-k over exactly "
    "the eligible rows, and per-query shortfall below k — the "
    "post-filter failure mode when the predicate anti-correlates with "
    "similarity — is impossible whenever k eligible rows exist. The "
    "selectivity cliff is MEASURED, not estimated: post-filter "
    "statistics are selectivity guesses (a measured 6750x overshoot "
    "on an in-memory frame), so absent a caller hint the operator "
    "counts the eligible set with a bounded skinny-id limit-probe — "
    "selective predicates degrade to the bounded exact tier precisely "
    "where routed cells would starve, permissive predicates keep the "
    "full-corpus handle's routed tier (filtered ivf recall floor + "
    "cliff-under-lying-statistics pinned in "
    "tests/test_ann_lifecycle.py).",
    added=16,
)
def ann_search_filtered_query(spark: SparkSession, sf: str) -> DataFrame:
    from etl_covid19_brasil_spark.llm.search import ann_search_filtered

    e = T(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") % 20 == 0).select("vec_id", "embedding")
    i = e.filter(F.col("vec_id") % 20 != 0)
    return ann_search_filtered(q, i, F.col("label") != 0, k=5)


_O_UNIGRAM_SEGMENT = f"""
    WITH RECURSIVE
    utoks AS (SELECT doc_id, unnest({_O_TOKENS}) AS word FROM documents),
    utoksf AS (SELECT doc_id, word FROM utoks WHERE word <> ''),
    uwc AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS c FROM utoksf GROUP BY word),
    usubs AS (
      SELECT substring(w.word, CAST(s.s AS INT), CAST(l.l AS INT)) AS piece,
             CAST(SUM(w.c) AS BIGINT) AS freq
      FROM uwc w,
           LATERAL (SELECT unnest(range(1, length(w.word) + 1)) AS s) s,
           LATERAL (SELECT unnest(range(1, least(4, length(w.word) - s.s + 1) + 1))
                    AS l) l
      GROUP BY 1
    ),
    ukept AS (
      SELECT piece, freq FROM usubs WHERE length(piece) = 1
      UNION ALL
      SELECT piece, freq FROM (
        SELECT piece, freq FROM usubs WHERE length(piece) >= 2
        ORDER BY freq DESC, piece ASC LIMIT 200)
    ),
    utotal AS (SELECT CAST(SUM(freq) AS BIGINT) AS tot FROM ukept),
    uscored AS (
      SELECT piece,
             CAST(floor(ln(CAST(tot AS DOUBLE) / freq) * 1000000 + 0.5)
               AS BIGINT) AS nll_u6
      FROM ukept, utotal
    ),
    upaths AS (
      SELECT word, 0 AS pos, CAST(0 AS BIGINT) AS nll, 0 AS ntok, '' AS seg
      FROM uwc
      UNION ALL
      SELECT p.word, p.pos + length(s.piece), p.nll + s.nll_u6, p.ntok + 1,
             CASE WHEN p.seg = '' THEN s.piece
                  ELSE p.seg || ' ' || s.piece END
      FROM upaths p JOIN uscored s
        ON s.piece = substring(p.word, p.pos + 1, length(s.piece))
      WHERE p.pos < length(p.word)
    ),
    usegbest AS (
      SELECT word, ntok, nll FROM (
        SELECT word, ntok, nll,
               ROW_NUMBER() OVER (PARTITION BY word
                                  ORDER BY nll ASC, ntok ASC, seg ASC) AS rn
        FROM upaths WHERE pos = length(word)) WHERE rn = 1
    )
    SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(b.ntok) AS BIGINT) AS n_pieces,
           CAST(SUM(b.nll) AS BIGINT) AS nll_u6_total
    FROM utoksf t JOIN usegbest b ON t.word = b.word
    GROUP BY t.doc_id
    """


@query(
    "tokenizer_unigram_segment",
    oracle=_O_UNIGRAM_SEGMENT,
    section="2.10",
    doc="Unigram-LM tokenizer, serving half (SentencePiece encode, Kudo "
    "2018) — the second tokenizer family next to the BPE pair: every "
    "document Viterbi-segmented under a corpus-derived piece model "
    "(all chars + top-200 substrings <= 4 chars, integer micro-nat NLL "
    "costs via the proven floor(ln*1e6+0.5) policy), emitting per-doc "
    "word/piece counts and total segmentation NLL. The engine runs a "
    "LINEAR DP per UNIQUE word (the Zipf collapse: one word-count "
    "shuffle, bounded piece table broadcast into an Arrow kernel, "
    "integer aggregates back per doc) with a total deterministic "
    "tie-break — min NLL, then min piece count, then lexicographically "
    "smallest space-joined segmentation; the space separator sorts "
    "below every token byte and two segmentations of one prefix are "
    "never string-prefix-related, so the tie-break has optimal "
    "substructure and the DP is exact. The DuckDB oracle ENUMERATES "
    "all segmentations by recursive CTE and picks the same minimum — "
    "hash-green proves the linear engine path equals exhaustive "
    "search, the strongest oracle shape an iterative-DP operator can "
    "carry (llm/tokenizer.py).",
    added=16,
)
def tokenizer_unigram_segment(spark: SparkSession, sf: str) -> DataFrame:
    from etl_covid19_brasil_spark.llm.tokenizer import unigram_viterbi_segment

    return unigram_viterbi_segment(T(spark, sf, "documents"))


@query(
    "tokenizer_unigram_train",
    oracle=None,
    section="2.10",
    doc="Unigram-LM tokenizer, training half — SentencePiece "
    "--model_type=unigram re-expressed as distributed EM "
    "(llm/tokenizer.py:unigram_em_train, Kudo 2018 §3.2): per "
    "iteration, the bounded piece-probability table broadcasts into a "
    "forward-backward Arrow kernel over UNIQUE words (expected piece "
    "counts weighted by corpus word count; the corpus log-likelihood "
    "rides the same pass as a sentinel row), ONE vocabulary-bounded "
    "(piece, expected_count) hash aggregate, and a driver-side M-step "
    "that normalizes and prunes the lowest-expectation multi-char "
    "pieces toward the 120-piece target (chars immune — coverage "
    "invariant). Rows-only by construction (float expected counts sum "
    "in partition order); the EM contract is pinned in "
    "tests/test_tokenizer.py instead: corpus LL non-decreasing across "
    "iterations at fixed vocabulary, byte-level agreement with a "
    "sequential reference implementation, prune/coverage invariants. "
    "Output: the fitted pieces with micro-quantized probabilities, "
    "prob-desc ranked.",
    added=16,
)
def tokenizer_unigram_train(spark: SparkSession, sf: str) -> DataFrame:
    import pyarrow as pa

    from etl_covid19_brasil_spark.llm.tokenizer import unigram_em_train

    fit = unigram_em_train(
        T(spark, sf, "documents"), n_iters=3, vocab_target=120
    )
    pdf = fit.pieces.copy()
    pdf["prob_u6"] = (pdf["prob"] * 1_000_000 + 0.5).astype("int64")
    # an Arrow table lands as a LocalTableScan under any session conf; a
    # pandas frame needs the session's Arrow flag (operators/concomp.py)
    out = spark.createDataFrame(
        pa.Table.from_pandas(pdf[["piece", "prob_u6"]], preserve_index=False)
    )
    return out.orderBy(F.desc("prob_u6"), F.asc("piece"))


@query(
    "tokenizer_unigram_sample",
    oracle=None,
    section="2.10",
    doc="Subword-REGULARIZATION segmentation — the stochastic encode "
    "that is Kudo 2018's actual contribution (SentencePiece "
    "enable_sampling=True), completing the unigram triad "
    "(train / Viterbi encode / sampled encode): every word segmented "
    "by a SAMPLE from P(seg) ~ prod p(piece)^alpha via exact "
    "forward-filtered backward sampling over the word lattice "
    "(llm/tokenizer.py:unigram_sample_segment, alpha=0.5), the "
    "tokenization variety that regularizes LM training. Same plan as "
    "the Viterbi form (unique-word collapse, bounded piece broadcast, "
    "integer per-doc aggregates). Rows-only by construction — no SQL "
    "oracle can sample a lattice — but the sample is DETERMINISTIC: "
    "each word draws from its own (word, seed)-keyed md5 RNG, so the "
    "result is byte-reproducible across partitionings and runs; "
    "validity (segments concatenate back to the word), reproducibility "
    "and distribution correctness (empirical segmentation frequencies "
    "match the enumerated lattice posterior at alpha=1, uniform at "
    "alpha=0) are pinned in tests/test_tokenizer.py.",
    added=16,
)
def tokenizer_unigram_sample(spark: SparkSession, sf: str) -> DataFrame:
    from etl_covid19_brasil_spark.llm.tokenizer import unigram_sample_segment

    return unigram_sample_segment(T(spark, sf, "documents"), alpha=0.5, seed=7)
