"""Battery part 2: training-data pipeline operators (dedup, similarity,
text analysis, streaming-equivalent, TPC-H-class joins).

Registered into the same ``REGISTRY`` as battery.py. Portability rules
as there: md5-based hashing, rounded doubles, cast aggregates,
identical aliases both sides.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.textstats import (
    EN_STOPWORDS,
    TR_STOPWORDS,
    bpe_ish_token_count,
    fingerprint,
    lang_id,
    line_noise_features,
    ngram_dup_fraction,
    quality_features,
    token_count,
)
from ..operators.dedup import (
    decontaminate,
    exact_duplicates,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    shingles,
    simhash,
)
from ..functions.textstats import (
    PII_EMAIL_RE as _PII_EMAIL,
    PII_IPV4_RE as _PII_IPV4,
    PII_PHONE_RE as _PII_PHONE,
    pii_counts,
    scrub_pii,
)
from ..operators.components import (
    connected_components,
    dedup_keep_representatives,
)
from ..operators.corpusmix import (
    mixture_rates,
    mixture_sample,
    source_quality_gate,
    source_stats,
)
from ..functions.textstats import tokens
from ..operators.linededup import strip_boilerplate
from ..operators.sitemap import parse_sitemap_entries
from ..operators.spandedup import strip_duplicate_spans
from ..operators.similarity import (
    cosine_topk,
    embedding_neardup,
    ivf_topk,
    lsh_bucket_topk,
    plane_sign,
)
from .battery import T, q


def _proj_sql(vcol: str, dim: int, plane: int) -> str:
    """The hyperplane-p projection as explicit left-assoc SQL — the same
    ±1 md5-parity weights and the same summation order as the engine's
    ``hyperplane_bucket`` fold, so the double result is bit-identical."""
    return " + ".join(
        f"{vcol}[{d + 1}]*({float(plane_sign(plane, d))})" for d in range(dim)
    )


def _bucket_sql(vcol: str, dim: int, n_planes: int, plane_offset: int = 0) -> str:
    return " + ".join(
        f"(CASE WHEN ({_proj_sql(vcol, dim, plane_offset + p)}) > 0"
        f" THEN {2 ** p} ELSE 0 END)"
        for p in range(n_planes)
    )

# -------------------------------------------------------------------------
# deduplication over `documents`
# -------------------------------------------------------------------------

_FP_SQL = "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))"
_TOKS_SQL = "list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '')"


@q(
    "dedup_exact",
    # corpus with injected duplicates (every 7th doc re-inserted under a
    # new id, with whitespace/case noise the normalizer must erase)
    f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000, upper(text) || '  ' FROM documents WHERE doc_id % 7 = 0
    )
    SELECT {_FP_SQL} AS fp, count(*)::BIGINT AS n_docs, min(doc_id) AS canonical_doc_id
    FROM corpus GROUP BY 1 HAVING count(*) > 1
    """,
)
def q_dedup_exact(spark, sf_dir):
    """Exact dedup: normalized-md5 fingerprint hash-aggregate (one
    shuffle); duplicates injected with case/whitespace noise to prove
    the normalization."""
    docs = T(spark, sf_dir, "documents").select("doc_id", "text")
    noisy = (
        docs.filter(F.col("doc_id") % 7 == 0)
        .select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat(F.upper("text"), F.lit("  ")).alias("text"),
        )
    )
    return exact_duplicates(docs.unionByName(noisy))


@q(
    "fingerprint_docs",
    f"""
    SELECT doc_id, {_FP_SQL} AS fp FROM documents WHERE doc_id < 200
    """,
)
def q_fingerprint_docs(spark, sf_dir):
    """Document fingerprinting (normalized md5) — portable identity."""
    return (
        T(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", fingerprint(F.col("text")).alias("fp"))
    )


_SHINGLES_SQL = f"""
  SELECT doc_id, unnest(list_distinct(
           [array_to_string(toks[i:i+2], ' ') for i in generate_series(1, len(toks) - 2)]
         )) AS shingle
  FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents)
  WHERE len(toks) >= 3
"""


@q(
    "dedup_minhash",
    f"""
    WITH sh AS ({_SHINGLES_SQL})
    SELECT doc_id,
           min(md5('0|' || shingle)) AS mh0, min(md5('1|' || shingle)) AS mh1,
           min(md5('2|' || shingle)) AS mh2, min(md5('3|' || shingle)) AS mh3,
           min(md5('4|' || shingle)) AS mh4, min(md5('5|' || shingle)) AS mh5,
           min(md5('6|' || shingle)) AS mh6, min(md5('7|' || shingle)) AS mh7
    FROM sh GROUP BY doc_id
    """,
)
def q_dedup_minhash(spark, sf_dir):
    """MinHash signatures (8 hashes over 3-gram shingles), md5-portable;
    the per-doc min is a map-side-combinable aggregate."""
    return minhash_signatures(shingles(T(spark, sf_dir, "documents")), num_hashes=8)


_MINHASH_CTE = f"""
    WITH sh AS ({_SHINGLES_SQL}),
    sig AS (
      SELECT doc_id,
             min(md5('0|' || shingle)) AS mh0, min(md5('1|' || shingle)) AS mh1,
             min(md5('2|' || shingle)) AS mh2, min(md5('3|' || shingle)) AS mh3,
             min(md5('4|' || shingle)) AS mh4, min(md5('5|' || shingle)) AS mh5,
             min(md5('6|' || shingle)) AS mh6, min(md5('7|' || shingle)) AS mh7
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, 0 AS band_id, md5(mh0 || '|' || mh1 || '|' || mh2 || '|' || mh3) AS band_hash FROM sig
      UNION ALL
      SELECT doc_id, 1 AS band_id, md5(mh4 || '|' || mh5 || '|' || mh6 || '|' || mh7) AS band_hash FROM sig
    )
"""


@q(
    "dedup_lsh_pairs",
    _MINHASH_CTE
    + """
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
    """,
)
def q_dedup_lsh_pairs(spark, sf_dir):
    """LSH banding join: near-dup candidate pairs (equi-join on band
    hash — never an all-pairs cross join)."""
    sig = minhash_signatures(shingles(T(spark, sf_dir, "documents")), num_hashes=8)
    return lsh_candidate_pairs(sig, num_hashes=8, band_size=4)


@q(
    "dedup_jaccard",
    _MINHASH_CTE
    + f"""
    , cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
    ),
    toksets AS (SELECT doc_id, list_distinct({_TOKS_SQL}) AS toks FROM documents)
    SELECT c.doc_a, c.doc_b,
           round(len(list_intersect(ta.toks, tb.toks)) /
                 greatest(len(list_distinct(ta.toks || tb.toks)), 1)::DOUBLE, 4) AS jaccard
    FROM cand c
    JOIN toksets ta ON ta.doc_id = c.doc_a
    JOIN toksets tb ON tb.doc_id = c.doc_b
    WHERE round(len(list_intersect(ta.toks, tb.toks)) /
                greatest(len(list_distinct(ta.toks || tb.toks)), 1)::DOUBLE, 4) >= 0.3
    """,
)
def q_dedup_jaccard(spark, sf_dir):
    """n-gram/token Jaccard verification of LSH candidates."""
    docs = T(spark, sf_dir, "documents")
    sig = minhash_signatures(shingles(docs), num_hashes=8)
    cand = lsh_candidate_pairs(sig, num_hashes=8, band_size=4)
    return jaccard_pairs(docs, cand, threshold=0.3)


_HEX_HIGH = "('8','9','a','b','c','d','e','f')"
_SIMHASH_BITS_SQL = " || ".join(
    f"(CASE WHEN sum(CASE WHEN substr(h, {j + 1}, 1) IN {_HEX_HIGH} THEN 1 ELSE -1 END) > 0 THEN '1' ELSE '0' END)"
    for j in range(16)
)


@q(
    "dedup_simhash",
    f"""
    WITH tok AS (
      SELECT doc_id, md5(unnest({_TOKS_SQL})) AS h FROM documents WHERE doc_id < 300
    )
    SELECT doc_id, {_SIMHASH_BITS_SQL} AS simhash
    FROM tok GROUP BY doc_id
    """,
)
def q_dedup_simhash(spark, sf_dir):
    """16-bit SimHash signatures (md5-parity bit votes)."""
    return simhash(T(spark, sf_dir, "documents").filter(F.col("doc_id") < 300))


# -------------------------------------------------------------------------
# text analysis over `documents`
# -------------------------------------------------------------------------

_EN_LIST = "(" + ",".join(f"'{w}'" for w in EN_STOPWORDS) + ")"
_TR_LIST = "(" + ",".join(f"'{w}'" for w in TR_STOPWORDS) + ")"


@q(
    "lang_id",
    f"""
    WITH c AS (
      SELECT doc_id, lang,
             len(list_filter({_TOKS_SQL}, t -> t IN {_EN_LIST})) AS en,
             len(list_filter({_TOKS_SQL}, t -> t IN {_TR_LIST})) AS tr
      FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN en = 0 AND tr = 0 THEN 'und'
                WHEN en >= tr THEN 'en' ELSE 'tr' END AS lang_pred
    FROM c
    """,
)
def q_lang_id(spark, sf_dir):
    """Language-ID heuristic (stopword vote)."""
    return T(spark, sf_dir, "documents").select(
        "doc_id", "lang", lang_id(F.col("text")).alias("lang_pred")
    )


@q(
    "quality_score",
    f"""
    WITH f AS (
      SELECT doc_id,
             length(text) AS n_chars,
             len({_TOKS_SQL}) AS n_tokens,
             length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
             length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
             len(list_filter({_TOKS_SQL}, t -> t IN {_EN_LIST})) AS n_stop
      FROM documents
    )
    SELECT doc_id, n_chars, n_tokens::BIGINT AS n_tokens,
           round(n_chars / greatest(n_tokens, 1)::DOUBLE, 4) AS mean_token_len,
           round(n_alpha / greatest(n_chars, 1)::DOUBLE, 4) AS alpha_ratio,
           round(n_punct / greatest(n_chars, 1)::DOUBLE, 4) AS punct_ratio,
           round(n_stop / greatest(n_tokens, 1)::DOUBLE, 4) AS stopword_ratio
    FROM f
    """,
)
def q_quality_score(spark, sf_dir):
    """Quality-scoring feature set (length/punct/stopword/alpha ratios)."""
    docs = T(spark, sf_dir, "documents")
    f = quality_features(F.col("text"))
    return docs.select(
        "doc_id",
        f["n_chars"].alias("n_chars"),
        f["n_tokens"].cast("long").alias("n_tokens"),
        f["mean_token_len"].alias("mean_token_len"),
        f["alpha_ratio"].alias("alpha_ratio"),
        f["punct_ratio"].alias("punct_ratio"),
        f["stopword_ratio"].alias("stopword_ratio"),
    )


@q(
    "token_count",
    f"""
    SELECT lang,
           sum(len({_TOKS_SQL}))::BIGINT AS ws_tokens,
           sum(length(regexp_replace(regexp_replace(text, '[A-Za-z]+|[0-9]+', 'x', 'g'), '\\s+', '', 'g')))::BIGINT AS bpe_ish_tokens
    FROM documents GROUP BY lang
    """,
)
def q_token_count(spark, sf_dir):
    """Token counting: whitespace + BPE-ish regex segmentation."""
    return (
        T(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.sum(token_count(F.col("text"))).cast("long").alias("ws_tokens"),
            F.sum(bpe_ish_token_count(F.col("text"))).cast("long").alias("bpe_ish_tokens"),
        )
    )


@q(
    "repetition_score",
    f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 400000, repeat('buy now great deal ', 25) FROM documents WHERE doc_id % 17 = 0
    ),
    t AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM corpus
    ),
    g AS (
      SELECT doc_id, len(toks) - 2 AS k,
             list_transform(
               generate_series(1, greatest(len(toks) - 2, 0)),
               i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]
             ) AS grams
      FROM t
    )
    SELECT doc_id,
           CASE WHEN k <= 0 THEN 0.0
                ELSE round(1.0 - len(list_distinct(grams))::DOUBLE / len(grams), 4)
           END AS dup3_fraction
    FROM g
    """,
)
def q_repetition_score(spark, sf_dir):
    """Within-doc repetition (Gopher-family duplicate-3-gram fraction):
    ``1 - distinct/total`` over sliding token trigrams, pure array
    Columns (no shuffle, no Python). Injected spam docs (a phrase
    repeated 25x) must score near 1, organic docs near 0."""
    docs = T(spark, sf_dir, "documents").select("doc_id", "text")
    spam = docs.filter(F.col("doc_id") % 17 == 0).select(
        (F.col("doc_id") + 400000).alias("doc_id"),
        F.repeat(F.lit("buy now great deal "), 25).alias("text"),
    )
    corpus = docs.unionByName(spam)
    return corpus.select(
        "doc_id", ngram_dup_fraction(F.col("text"), n=3).alias("dup3_fraction")
    )


_LINETOK = "len(list_filter(regexp_split_to_array(l, '\\s+'), t -> t <> ''))"


@q(
    "web_noise",
    f"""
    WITH pagey AS (
      SELECT doc_id,
             concat_ws(chr(10),
               '# ' || substr(text, 1, 40),
               '- item ' || doc_id,
               '* promo',
               text,
               'ok bye') AS text
      FROM documents
    ),
    l AS (
      SELECT doc_id, string_split(text, chr(10)) AS lines FROM pagey
    )
    SELECT doc_id,
           len(lines)::INT AS n_lines,
           round(len(list_filter(lines, l -> {_LINETOK} < 5))
                 / greatest(len(lines), 1)::DOUBLE, 4) AS short_line_fraction,
           round(len(list_filter(lines, l -> regexp_matches(ltrim(l), '^[-*•]')))
                 / greatest(len(lines), 1)::DOUBLE, 4) AS bullet_line_fraction,
           round(list_sum(list_transform(lines, l -> length(l)))
                 / greatest(len(lines), 1)::DOUBLE, 4) AS mean_line_chars
    FROM l
    """,
)
def q_web_noise(spark, sf_dir):
    """Line-structure noise signals (RefinedWeb-style boilerplate
    heuristics) over synthetic multi-line page text: heading + bullet
    residue + body lines composed deterministically from `documents`.
    All pure array Columns — no shuffle, no Python."""
    docs = T(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.concat(F.lit("# "), F.substring("text", 1, 40)),
            F.concat(F.lit("- item "), F.col("doc_id").cast("string")),
            F.lit("* promo"),
            F.col("text"),
            F.lit("ok bye"),
        ).alias("text"),
    )
    f = line_noise_features(F.col("text"))
    return docs.select(
        "doc_id",
        f["n_lines"].alias("n_lines"),
        f["short_line_fraction"].alias("short_line_fraction"),
        f["bullet_line_fraction"].alias("bullet_line_fraction"),
        f["mean_line_chars"].alias("mean_line_chars"),
    )


@q(
    "contact_density",
    r"""
    WITH corpus AS (
      SELECT doc_id,
             text || CASE WHEN doc_id % 5 = 0
                          THEN ' contact sales' || doc_id ||
                               '@example-corp.com or see https://shop.example/item/' || doc_id
                          ELSE '' END AS text
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(lower(text),
               '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}'))::INT AS n_emails,
           len(regexp_extract_all(lower(text), 'https?://[^\s]+'))::INT AS n_urls,
           round(length(regexp_replace(text, '[^0-9]', '', 'g'))
                 / greatest(length(text), 1)::DOUBLE, 4) AS digit_ratio
    FROM corpus
    """,
)
def q_contact_density(spark, sf_dir):
    """Contact/link density (spam + SEO-page signal): email and URL
    mention counts via ``regexp_extract_all`` (RE2-safe patterns, no
    lookahead) plus digit ratio — native regex Columns, no Python.
    Every 5th doc gets an injected email + product URL."""
    docs = T(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" contact sales"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example-corp.com or see https://shop.example/item/"),
                    F.col("doc_id").cast("string"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    low = F.lower("text")
    return docs.select(
        "doc_id",
        F.size(
            F.regexp_extract_all(
                low, F.lit(r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"), 0
            )
        ).alias("n_emails"),
        F.size(
            F.regexp_extract_all(low, F.lit(r"https?://[^\s]+"), 0)
        ).alias("n_urls"),
        F.round(
            F.length(F.regexp_replace("text", r"[^0-9]", ""))
            / F.greatest(F.length("text"), F.lit(1)).cast("double"),
            4,
        ).alias("digit_ratio"),
    )


@q(
    "corpus_clean",
    f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000, upper(text) || '  ' FROM documents WHERE doc_id % 7 = 0
      UNION ALL
      SELECT doc_id + 200000, '!!! ??? *** ### $$$' FROM documents WHERE doc_id % 11 = 0
      UNION ALL
      SELECT doc_id + 300000, 'too short' FROM documents WHERE doc_id % 13 = 0
    ),
    canon AS (
      SELECT doc_id, text FROM (
        SELECT doc_id, text,
               row_number() OVER (PARTITION BY {_FP_SQL} ORDER BY doc_id) AS rn
        FROM corpus
      ) WHERE rn = 1
    ),
    feats AS (
      SELECT doc_id,
             len({_TOKS_SQL}) AS n_tokens,
             length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
               / greatest(length(text), 1)::DOUBLE AS alpha,
             len(list_filter({_TOKS_SQL}, t -> t IN {_EN_LIST})) AS en,
             len(list_filter({_TOKS_SQL}, t -> t IN {_TR_LIST})) AS tr
      FROM canon
    )
    SELECT doc_id,
           CASE WHEN en = 0 AND tr = 0 THEN 'und'
                WHEN en >= tr THEN 'en' ELSE 'tr' END AS lang_pred,
           n_tokens::BIGINT AS n_tokens,
           round(alpha, 4) AS alpha_ratio
    FROM feats
    WHERE n_tokens >= 20 AND round(alpha, 4) >= 0.8
    """,
)
def q_corpus_clean(spark, sf_dir):
    """Flagship training-corpus preparation pipeline, one query: inject
    noisy duplicates + junk docs, exact-dedup to canonical docs
    (fingerprint window), language-ID, then quality gates (token budget
    + alpha ratio) — the standard clean-crawl prep chain (dedup →
    lang-ID → quality filter) composed from the engine's text
    operators. One fingerprint shuffle + one projection; every stage is
    native Columns."""
    docs = T(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs
    for offset, expr in (
        (100000, F.concat(F.upper("text"), F.lit("  "))),
        (200000, F.lit("!!! ??? *** ### $$$")),
        (300000, F.lit("too short")),
    ):
        mod = {100000: 7, 200000: 11, 300000: 13}[offset]
        corpus = corpus.unionByName(
            docs.filter(F.col("doc_id") % mod == 0).select(
                (F.col("doc_id") + offset).alias("doc_id"), expr.alias("text")
            )
        )
    w = Window.partitionBy(fingerprint(F.col("text"))).orderBy("doc_id")
    canon = (
        corpus.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    f = quality_features(F.col("text"))
    out = canon.select(
        "doc_id",
        lang_id(F.col("text")).alias("lang_pred"),
        f["n_tokens"].cast("long").alias("n_tokens"),
        f["alpha_ratio"].alias("alpha_ratio"),
    )
    return out.filter((F.col("n_tokens") >= 20) & (F.col("alpha_ratio") >= 0.8))


@q(
    "decontaminate",
    f"""
    WITH sh AS ({_SHINGLES_SQL}),
    ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 17 = 0),
    ov AS (
      SELECT doc_id, count(*)::BIGINT AS n_overlap
      FROM sh JOIN ev USING (shingle)
      GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(ov.n_overlap, 0) AS n_overlap,
           coalesce(ov.n_overlap, 0) >= 2 AS contaminated
    FROM documents d LEFT JOIN ov USING (doc_id)
    """,
)
def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (GPT-3-style n-gram overlap filter):
    every 17th doc plays the eval set; overlap counted on shared
    trigram shingles. Eval shingles broadcast (a benchmark suite is
    small); the corpus side is one explode + broadcast join + partial
    count — no corpus shuffle beyond doc_id aggregation."""
    docs = T(spark, sf_dir, "documents").select("doc_id", "text")
    eval_docs = docs.filter(F.col("doc_id") % 17 == 0)
    return decontaminate(docs, eval_docs, min_overlap=2)


@q(
    "line_dedup",
    r"""
    WITH corpus AS (
      SELECT doc_id,
             'Home | Products | Contact' || chr(10) ||
             'cookie notice:  we use cookies' || chr(10) ||
             text || chr(10) || '(c) Example Corp' AS text
      FROM documents
    ),
    lines AS (
      SELECT doc_id,
             unnest([{'pos': i, 'line': l[i]} for i in generate_series(1, len(l))],
                    recursive := true)
      FROM (SELECT doc_id, string_split(text, chr(10)) AS l FROM corpus)
    ),
    fps AS (
      SELECT doc_id, pos, line,
             CASE WHEN trim(line) <> ''
                  THEN md5(trim(regexp_replace(lower(line), '\s+', ' ', 'g'))) END AS line_fp
      FROM lines
    ),
    bp AS (
      SELECT line_fp FROM fps WHERE line_fp IS NOT NULL
      GROUP BY line_fp HAVING count(DISTINCT doc_id) >= 3
    )
    SELECT f.doc_id,
           coalesce(string_agg(CASE WHEN b.line_fp IS NULL THEN f.line END,
                               chr(10) ORDER BY f.pos), '') AS text,
           count(*)::BIGINT AS n_lines,
           count(b.line_fp)::BIGINT AS n_removed
    FROM fps f LEFT JOIN bp b ON f.line_fp = b.line_fp
    GROUP BY f.doc_id
    """,
)
def q_line_dedup(spark, sf_dir):
    """Cross-document line-level boilerplate removal (CCNet/RefinedWeb
    cleanup): injected nav/cookie/footer lines recur in every doc, get
    detected by the fingerprint count (≥3 distinct docs), and are
    stripped byte-preserving the surviving lines. The whitespace noise
    in the injected cookie line proves the line normalizer. One explode
    + one hash-aggregate + one broadcastable join — never all-pairs."""
    docs = T(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("Home | Products | Contact\ncookie notice:  we use cookies\n"),
            F.col("text"),
            F.lit("\n(c) Example Corp"),
        ).alias("text"),
    )
    return strip_boilerplate(docs, min_docs=3)


@q(
    "pii_scrub",
    rf"""
    WITH corpus AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 5 = 0
                     THEN ' Reach user' || doc_id || '@mail.example.com for details.'
                     ELSE '' END
             || CASE WHEN doc_id % 7 = 0
                     THEN ' Origin server 10.' || (doc_id % 256) || '.0.' || (doc_id % 100) || ' answered.'
                     ELSE '' END
             || CASE WHEN doc_id % 11 = 0
                     THEN ' Call +90 532 ' || (doc_id + 1000000) || ' today.'
                     ELSE '' END AS text
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(text, '{_PII_EMAIL}'))::INT AS n_emails,
           len(regexp_extract_all(text, '{_PII_IPV4}'))::INT AS n_ips,
           len(regexp_extract_all(text, '{_PII_PHONE}'))::INT AS n_phones,
           regexp_replace(
             regexp_replace(
               regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
               '{_PII_PHONE}', '<PHONE>', 'g'),
             '{_PII_IPV4}', '<IP>', 'g') AS text
    FROM corpus
    """,
)
def q_pii_scrub(spark, sf_dir):
    """PII scrubbing for training data: count + replace emails, intl
    phone numbers, and IPv4 addresses with typed placeholders. The
    patterns are RE2-compatible so the oracle runs the IDENTICAL
    pattern text; replacement order (email → phone → IP) is part of the
    contract and exercised by the injected PII."""
    d = F.col("doc_id")
    docs = T(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                d % 5 == 0,
                F.concat(
                    F.lit(" Reach user"),
                    d.cast("string"),
                    F.lit("@mail.example.com for details."),
                ),
            ).otherwise(F.lit("")),
            F.when(
                d % 7 == 0,
                F.concat(
                    F.lit(" Origin server 10."),
                    (d % 256).cast("string"),
                    F.lit(".0."),
                    (d % 100).cast("string"),
                    F.lit(" answered."),
                ),
            ).otherwise(F.lit("")),
            F.when(
                d % 11 == 0,
                F.concat(
                    F.lit(" Call +90 532 "),
                    (d + 1000000).cast("string"),
                    F.lit(" today."),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    c = pii_counts(F.col("text"))
    return docs.select(
        "doc_id",
        c["n_emails"].alias("n_emails"),
        c["n_ips"].alias("n_ips"),
        c["n_phones"].alias("n_phones"),
        scrub_pii(F.col("text")).alias("text"),
    )


@q(
    "sitemap_parse",
    """
    WITH o AS (
      SELECT o_orderkey, o_custkey % 20 AS h, o_orderdate::DATE AS o_orderdate
      FROM orders WHERE o_orderkey < 3000
    ),
    hosts AS (SELECT DISTINCT 'shop' || h || '.example.com' AS host FROM o)
    SELECT 'https://shop' || h || '.example.com/sitemap.xml' AS sitemap_url,
           'url' AS kind,
           'https://shop' || h || '.example.com/order/' || o_orderkey AS loc,
           o_orderdate::VARCHAR AS lastmod,
           NULL::VARCHAR AS changefreq,
           NULL::DOUBLE AS priority,
           o_orderdate AS lastmod_date
    FROM o
    UNION ALL
    SELECT 'https://' || host || '/sitemap_index.xml' AS sitemap_url,
           'sitemap' AS kind,
           'https://' || host || '/sitemap.xml' AS loc,
           NULL::VARCHAR AS lastmod,
           NULL::VARCHAR AS changefreq,
           NULL::DOUBLE AS priority,
           NULL::DATE AS lastmod_date
    FROM hosts
    """,
)
def q_sitemap_parse(spark, sf_dir):
    """Sitemap ingestion round-trip: build per-host <urlset> documents
    and a <sitemapindex> per host from orders rows, then parse them
    back with the native-regex sitemap parser. The oracle constructs
    the EXPECTED entries directly from the source rows — the engine's
    parse must exactly invert the rendering (whitespace padding inside
    <loc> included) to match."""
    orders = T(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 3000)
    host = F.concat(
        F.lit("shop"), (F.col("o_custkey") % 20).cast("string"), F.lit(".example.com")
    )
    entry = F.concat(
        F.lit("<url>\n  <loc> https://"),
        host,
        F.lit("/order/"),
        F.col("o_orderkey").cast("string"),
        F.lit(" </loc>\n  <lastmod>"),
        F.col("o_orderdate").cast("date").cast("string"),
        F.lit("</lastmod>\n</url>\n"),
    )
    urlsets = (
        orders.select(
            host.alias("host"),
            F.struct(
                F.col("o_orderkey").alias("k"), entry.alias("e")
            ).alias("s"),
        )
        .groupBy("host")
        .agg(
            F.concat(
                F.lit("<urlset>\n"),
                F.array_join(
                    F.transform(F.sort_array(F.collect_list("s")), lambda s: s["e"]),
                    "",
                ),
                F.lit("</urlset>"),
            ).alias("body")
        )
    )
    indexes = urlsets.select(
        F.concat(F.lit("https://"), F.col("host"), F.lit("/sitemap_index.xml")).alias(
            "url"
        ),
        F.concat(
            F.lit("<sitemapindex>\n<sitemap>\n<loc>https://"),
            F.col("host"),
            F.lit("/sitemap.xml</loc>\n</sitemap>\n</sitemapindex>"),
        ).alias("body"),
    )
    sitemaps = urlsets.select(
        F.concat(F.lit("https://"), F.col("host"), F.lit("/sitemap.xml")).alias("url"),
        "body",
    ).unionByName(indexes)
    return parse_sitemap_entries(sitemaps)


@q(
    "sitemap_hints",
    """
    WITH e AS (SELECT event_id AS id FROM events)
    SELECT 'https://sm' || (id % 20) || '.example.com/p/' || id AS loc,
           CASE id % 9
             WHEN 0 THEN 'always' WHEN 1 THEN 'hourly' WHEN 2 THEN 'daily'
             WHEN 3 THEN 'weekly' WHEN 4 THEN 'monthly' WHEN 5 THEN 'yearly'
             WHEN 6 THEN 'never' ELSE NULL
           END AS changefreq,
           CASE id % 5
             WHEN 0 THEN 0.8 WHEN 1 THEN 1.0 ELSE NULL
           END::DOUBLE AS priority,
           CASE id % 9
             WHEN 0 THEN 0 WHEN 1 THEN 0 WHEN 2 THEN 1 WHEN 3 THEN 7
             WHEN 4 THEN 30 WHEN 5 THEN 365 ELSE NULL
           END::INT AS revisit_days
    FROM e
    """,
)
def q_sitemap_hints(spark, sf_dir):
    """sitemaps.org hint fields end-to-end (operators/sitemap.py):
    render per-host <urlset> docs whose entries carry <changefreq> and
    <priority> in every spec-relevant shape — the seven valid tokens
    (one UPPERCASED to pin the lowercase fold), an invalid token, a
    missing tag, priorities in range, out of range (1.5 must parse to
    NULL, not clamp silently), and unparseable — then parse them back
    and map changefreq to the revisit-scheduler interval. The oracle
    states every expected value in closed form from the id arithmetic,
    so a validation or fold bug breaks the hash."""
    from ..operators.sitemap import changefreq_revisit_days

    ev = T(spark, sf_dir, "events")
    e = F.col("event_id")
    host = F.concat(F.lit("sm"), (e % 20).cast("string"), F.lit(".example.com"))
    cf = (
        F.when(e % 9 == 0, F.lit("always"))
        .when(e % 9 == 1, F.lit("hourly"))
        .when(e % 9 == 2, F.lit("daily"))
        .when(e % 9 == 3, F.lit("WEEKLY"))  # parser must lowercase
        .when(e % 9 == 4, F.lit("monthly"))
        .when(e % 9 == 5, F.lit("yearly"))
        .when(e % 9 == 6, F.lit("never"))
        .when(e % 9 == 7, F.lit("sometimes"))  # invalid -> NULL
    )  # e % 9 == 8: tag absent
    cf_tag = F.when(
        cf.isNotNull(),
        F.concat(F.lit("  <changefreq> "), cf, F.lit(" </changefreq>\n")),
    ).otherwise(F.lit(""))
    pr = (
        F.when(e % 5 == 0, F.lit("0.8"))
        .when(e % 5 == 1, F.lit("1.0"))
        .when(e % 5 == 2, F.lit("1.5"))  # out of spec range -> NULL
        .when(e % 5 == 3, F.lit("abc"))  # unparseable -> NULL
    )  # e % 5 == 4: tag absent
    pr_tag = F.when(
        pr.isNotNull(),
        F.concat(F.lit("  <priority>"), pr, F.lit("</priority>\n")),
    ).otherwise(F.lit(""))
    entry = F.concat(
        F.lit("<url>\n  <loc>https://"),
        host,
        F.lit("/p/"),
        e.cast("string"),
        F.lit("</loc>\n"),
        cf_tag,
        pr_tag,
        F.lit("</url>\n"),
    )
    sitemaps = (
        ev.select(
            host.alias("host"),
            F.struct(e.alias("k"), entry.alias("e")).alias("s"),
        )
        .groupBy("host")
        .agg(
            F.concat(
                F.lit("<urlset>\n"),
                F.array_join(
                    F.transform(F.sort_array(F.collect_list("s")), lambda s: s["e"]),
                    "",
                ),
                F.lit("</urlset>"),
            ).alias("body")
        )
        .select(
            F.concat(
                F.lit("https://"), F.col("host"), F.lit("/sitemap.xml")
            ).alias("url"),
            "body",
        )
    )
    parsed = parse_sitemap_entries(sitemaps)
    return parsed.select(
        "loc",
        "changefreq",
        "priority",
        changefreq_revisit_days(F.col("changefreq")).alias("revisit_days"),
    )


@q(
    "doc_entropy",
    """
    WITH d AS (SELECT doc_id AS id FROM documents),
    p AS (
      SELECT id,
        (1 + id % 5)::DOUBLE AS x,
        (1 + id % 3)::DOUBLE AS y
      FROM d)
    SELECT id AS doc_id,
      CASE id % 4 WHEN 0 THEN 0 WHEN 1 THEN 1 + id % 7
                  ELSE (x + y)::INT END::INT AS n_chars,
      CASE id % 4 WHEN 0 THEN 0 WHEN 1 THEN 1 ELSE 2 END::INT
        AS n_distinct_chars,
      CASE id % 4
        WHEN 0 THEN 0.0 WHEN 1 THEN 0.0
        ELSE -(x/(x+y))*log2(x/(x+y)) - (y/(x+y))*log2(y/(x+y))
      END::DOUBLE AS char_entropy
    FROM p
    """,
)
def q_doc_entropy(spark, sf_dir):
    """Character-entropy quality signal end-to-end
    (operators/entropy.py): render docs in four controlled shapes —
    empty, single-symbol runs (entropy exactly 0, and the IEEE -0.0
    fold is load-bearing), two-symbol ASCII mixes, and two-symbol
    mixes led by a non-ASCII char (é — code-point counting, not
    bytes) — then compute the signals in the Arrow stage. The oracle
    states n_chars/distinct/entropy in CLOSED FORM from the id
    arithmetic (the two-symbol Shannon formula), so a histogram,
    length, or unicode bug breaks the hash. compress_ratio has no SQL
    equivalent and is pinned by pytest instead."""
    from ..operators.entropy import char_signal_features

    docs = T(spark, sf_dir, "documents")
    i = F.col("doc_id")
    x = (1 + i % 5).cast("int")
    y = (1 + i % 3).cast("int")
    text = (
        F.when(i % 4 == 0, F.lit(""))
        .when(i % 4 == 1, F.repeat(F.lit("a"), (1 + i % 7).cast("int")))
        .when(
            i % 4 == 2,
            F.concat(F.repeat(F.lit("a"), x), F.repeat(F.lit("b"), y)),
        )
        .otherwise(
            F.concat(F.repeat(F.lit("é"), x), F.repeat(F.lit("a"), y))
        )
    )
    rendered = docs.select("doc_id", text.alias("text"))
    return char_signal_features(rendered).select(
        "doc_id", "n_chars", "n_distinct_chars", "char_entropy"
    )


@q(
    "charset_decode",
    """
    SELECT doc_id,
      CASE doc_id % 4
        WHEN 0 THEN text || ' caf' || chr(233)
        WHEN 1 THEN text
        WHEN 2 THEN 'caf' || chr(233) || ' ma' || chr(241) || 'ana #' || doc_id
        ELSE '<meta http-equiv="Content-Type" '
             || 'content="text/html; charset=iso-8859-1">d' || chr(233)
             || 'clar' || chr(233) || ' #' || doc_id
      END AS text,
      CASE doc_id % 4
        WHEN 0 THEN 'utf-8'
        WHEN 1 THEN 'utf-8-bom'
        ELSE 'windows-1252'
      END AS charset
    FROM documents
    """,
)
def q_charset_decode(spark, sf_dir):
    """WHATWG-style charset sniffing over raw page bytes: BOM, declared
    <meta charset> (iso-8859-1 labels decode as windows-1252, the WHATWG
    label mapping browsers use), strict-UTF-8 attempt, windows-1252
    fallback. Each
    doc_id class renders its bytes in a different real encoding (Spark's
    encode() does the byte-level work); the oracle states the decoded
    text + detected charset directly — the decode stage must invert the
    encoding exactly, including latin-1 high bytes that are invalid
    UTF-8 sequences."""
    from ..operators.charset import decode_html

    docs = T(spark, sf_dir, "documents")
    k = F.col("doc_id") % 4
    e_acute, n_tilde = chr(233), chr(241)
    latin_body = F.concat(
        F.lit("caf" + e_acute + " ma" + n_tilde + "ana #"),
        F.col("doc_id").cast("string"),
    )
    meta_body = F.concat(
        F.lit(
            '<meta http-equiv="Content-Type" '
            'content="text/html; charset=iso-8859-1">d'
            + e_acute + "clar" + e_acute + " #"
        ),
        F.col("doc_id").cast("string"),
    )
    html = (
        F.when(k == 0, F.encode(F.concat(F.col("text"), F.lit(" caf" + e_acute)), "UTF-8"))
        .when(
            k == 1,
            F.concat(F.lit(b"\xef\xbb\xbf"), F.encode(F.col("text"), "UTF-8")),
        )
        .when(k == 2, F.encode(latin_body, "ISO-8859-1"))
        .otherwise(F.encode(meta_body, "ISO-8859-1"))
    )
    pages = docs.select("doc_id", html.alias("html"))
    return decode_html(pages).select("doc_id", "text", "charset")


@q(
    "lm_perplexity",
    """
    WITH tr AS (SELECT text FROM documents WHERE doc_id % 10 < 3),
    tg AS (
      SELECT substr(text, i, 3) AS gram
      FROM (SELECT text,
                   unnest(generate_series(1, greatest(length(text)-2, 0)))::INT AS i
            FROM tr)
      WHERE length(substr(text, i, 3)) = 3
    ),
    m3 AS (SELECT gram, count(*)::BIGINT AS c3 FROM tg GROUP BY 1),
    m2 AS (SELECT substr(gram, 1, 2) AS ctx, sum(c3) AS c2 FROM m3 GROUP BY 1),
    v AS (SELECT count(DISTINCT substr(gram, 3, 1)) AS vs FROM m3),
    sg AS (
      SELECT doc_id, substr(text, i, 3) AS gram
      FROM (SELECT doc_id, text,
                   unnest(generate_series(1, greatest(length(text)-2, 0)))::INT AS i
            FROM documents)
      WHERE length(substr(text, i, 3)) = 3
    ),
    sc AS (
      SELECT sg.doc_id,
             ln((coalesce(m3.c3, 0) + 1.0) /
                (coalesce(m2.c2, 0) + 1.0 * v.vs)) AS logp
      FROM sg
      LEFT JOIN m3 USING (gram)
      LEFT JOIN m2 ON substr(sg.gram, 1, 2) = m2.ctx
      CROSS JOIN v
    )
    SELECT d.doc_id, round(avg(sc.logp), 6) AS lm_logp_avg
    FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
    GROUP BY d.doc_id
    """,
)
def q_lm_perplexity(spark, sf_dir):
    """CCNet-style LM quality ranking: an add-1-smoothed character
    trigram model trained on a 30% doc sample (one explode + hash agg;
    the model is alphabet-bounded → broadcast), then every document
    scored by mean transition log-prob under it. The oracle retrains
    the identical model in SQL — counts, smoothing, vocab definition
    and all — so train AND score are both checked."""
    from ..operators.lmscore import lm_score, train_char_lm

    docs = T(spark, sf_dir, "documents")
    lm = train_char_lm(docs.filter(F.col("doc_id") % 10 < 3))
    return lm_score(docs, lm)


@q(
    "text_normalize",
    """
    WITH t AS (
      SELECT doc_id,
             text || ' Cafe' || chr(769) || ' ' || chr(201) || 'T' ||
             chr(233) || '  ' || chr(9) || 'ws' AS raw
      FROM documents
    )
    SELECT doc_id,
           trim(regexp_replace(lower(nfc_normalize(raw)),
                               '\\s+', ' ', 'g')) AS norm,
           trim(regexp_replace(lower(strip_accents(nfc_normalize(raw))),
                               '\\s+', ' ', 'g')) AS norm_ascii
    FROM t
    """,
)
def q_text_normalize(spark, sf_dir):
    """Unicode dedup-key normalization: NFC composition (combining
    acute + 'e' → 'é'), optional accent strip, lowercase, whitespace
    collapse. Decorations are built from codepoints (combining U+0301,
    É, é, a tab) so the oracle constructs byte-identical input; DuckDB's
    ICU nfc_normalize/strip_accents and Python's unicodedata must agree
    byte-for-byte on the output."""
    from ..functions.unicode_norm import normalize_text

    docs = T(spark, sf_dir, "documents")
    deco = " Cafe" + chr(769) + " " + chr(201) + "T" + chr(233) + "  \tws"
    raw = F.concat(F.col("text"), F.lit(deco))
    return docs.select(
        "doc_id",
        normalize_text(raw).alias("norm"),
        normalize_text(raw, accents=True).alias("norm_ascii"),
    )


@q(
    "warc_roundtrip",
    """
    SELECT 'https://' || source || '.example.com/doc/' || doc_id AS url,
           strftime(TIMESTAMP '2025-01-01 00:00:00'
                    + (doc_id % 86400) * INTERVAL 1 SECOND,
                    '%Y-%m-%dT%H:%M:%SZ') AS warc_ts,
           200::INTEGER AS http_status,
           'text/html; charset=utf-8' AS content_type,
           octet_length(encode(text))::BIGINT AS n_body_bytes,
           text AS body
    FROM documents
    """,
)
def q_warc_roundtrip(spark, sf_dir):
    """WARC ingestion round-trip: render every document as a WARC
    response record with NATIVE string expressions (Content-Length =
    ``octet_length`` of the HTTP payload, multi-byte-safe), pack ~7
    records per "file" blob, parse back with ``sources/warc.parse_warc``
    (the length-driven Arrow reader). The oracle states the expected
    record fields directly from the source rows — the parser must
    exactly invert the render, byte counts included."""
    from ..sources.warc import parse_warc

    docs = T(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/doc/"),
        F.col("doc_id").cast("string"),
    )
    ts = F.date_format(
        F.timestamp_seconds(
            F.unix_timestamp(F.lit("2025-01-01 00:00:00"))
            + (F.col("doc_id") % 86400)
        ),
        "yyyy-MM-dd'T'HH:mm:ss'Z'",
    )
    http = F.concat(
        F.lit("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n"),
        F.col("text"),
    )
    record = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "),
        url,
        F.lit("\r\nWARC-Date: "),
        ts,
        F.lit("\r\nContent-Length: "),
        F.octet_length(http).cast("string"),
        F.lit("\r\n\r\n"),
        http,
        F.lit("\r\n\r\n"),
    )
    blobs = (
        docs.select(
            (F.col("doc_id") % 7).alias("file_id"),
            F.struct(F.col("doc_id").alias("k"), record.alias("r")).alias("s"),
        )
        .groupBy("file_id")
        .agg(
            F.encode(
                F.array_join(
                    F.transform(
                        F.sort_array(F.collect_list("s")), lambda s: s["r"]
                    ),
                    "",
                ),
                "UTF-8",
            ).alias("content")
        )
    )
    return parse_warc(blobs).select(
        "url",
        "warc_ts",
        "http_status",
        "content_type",
        "n_body_bytes",
        F.decode(F.col("html"), "UTF-8").alias("body"),
    )


# -------------------------------------------------------------------------
# similarity search over `embeddings`
# -------------------------------------------------------------------------


@q(
    "cosine_topk",
    """
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, e.vec_id,
             round(list_dot_product(q.qv::DOUBLE[], e.embedding::DOUBLE[]) /
                   greatest(sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[])) *
                            sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])), 1e-12), 4) AS cos_sim
      FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, cos_sim,
           row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rank
    FROM scored
    QUALIFY rank <= 5
    """,
)
def q_cosine_topk(spark, sf_dir):
    """Brute-force exact cosine top-k (JVM-side zip_with/aggregate dot
    products, broadcast query set) — the ANN correctness baseline."""
    emb = T(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    return cosine_topk(emb, queries, k=5)


_NEARDUP_BANDS_SQL = "\n      UNION ALL ".join(
    f"SELECT vec_id, {b} AS band, ({_bucket_sql('v', 64, 3, plane_offset=b * 3)}) AS bucket FROM e"
    for b in range(12)
)


@q(
    "dedup_embedding_neardup",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    bands AS (
      {_NEARDUP_BANDS_SQL}
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    ),
    scored AS (
      SELECT c.vec_a, c.vec_b,
             round(list_dot_product(ea.v, eb.v) /
                   greatest(sqrt(list_dot_product(ea.v, ea.v)) *
                            sqrt(list_dot_product(eb.v, eb.v)), 1e-12), 4) AS cos_sim
      FROM cand c JOIN e ea ON ea.vec_id = c.vec_a JOIN e eb ON eb.vec_id = c.vec_b
    )
    SELECT vec_a, vec_b, cos_sim FROM scored WHERE cos_sim >= 0.35
    """,
)
def q_dedup_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (cos >= threshold) through
    the LSH-bucket-gated operator — equi-join on (band, bucket), multi-
    band OR for recall, never an all-pairs cross join. The oracle emits
    the identical md5-parity plane weights as SQL literals, so engine
    and oracle agree on every candidate pair; recall vs the exact
    all-pairs join is bounded separately in tests/test_dedup_similarity.
    """
    emb = T(spark, sf_dir, "embeddings")
    return embedding_neardup(emb, dim=64, threshold=0.35, n_bands=12, planes_per_band=3)


@q(
    "ann_lsh_topk",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    b AS (SELECT vec_id, v, ({_bucket_sql('v', 64, 6)}) AS bucket FROM e),
    q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, b.vec_id,
             round(list_dot_product(q.qv, b.v) /
                   greatest(sqrt(list_dot_product(q.qv, q.qv)) *
                            sqrt(list_dot_product(b.v, b.v)), 1e-12), 4) AS cos_sim
      FROM b JOIN q ON b.bucket = q.bucket WHERE b.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, cos_sim,
           row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rank
    FROM scored
    QUALIFY rank <= 5
    """,
)
def q_ann_lsh_topk(spark, sf_dir):
    """Hyperplane-LSH bucketed ANN (the scale path; recall<1 vs
    cosine_topk by design). The md5-parity plane signs are deterministic
    constants, so the oracle reproduces the exact bucket assignment with
    a literal ±1 weight table."""
    emb = T(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    return lsh_bucket_topk(emb, queries, dim=64, k=5, n_planes=6)


# -------------------------------------------------------------------------
# boilerplate-free main-content extraction + IVF ANN search
# -------------------------------------------------------------------------


@q(
    "content_extract",
    # the page is assembled natively around each document's text (two
    # <p> slices + hand-written chrome whose classification is known by
    # construction), so the oracle states the expected extraction
    # directly: h1 promoted + both prose paragraphs (second iff it
    # clears the 25-char gate); nav/footer/share-bar/short blocks drop.
    """
    WITH d AS (
      SELECT doc_id,
             trim(substr(text, 1, 80)) AS p1,
             trim(substr(text, 81, 80)) AS p2
      FROM documents
    )
    SELECT doc_id,
           'Doc ' || doc_id::VARCHAR || chr(10) || p1
             || CASE WHEN length(p2) >= 25 THEN chr(10) || p2 ELSE '' END
             AS main_text,
           (6 + CASE WHEN length(p2) > 0 THEN 1 ELSE 0 END)::INT AS n_blocks,
           (2 + CASE WHEN length(p2) >= 25 THEN 1 ELSE 0 END)::INT
             AS n_content_blocks,
           (4 + length(doc_id::VARCHAR) + length(p1)
             + CASE WHEN length(p2) >= 25 THEN length(p2) ELSE 0 END)::INT
             AS content_chars,
           (18 + 16 + 2 + 14 + 4 + length(doc_id::VARCHAR) + length(p1)
             + length(p2))::INT AS total_chars
    FROM d
    """,
)
def q_content_extract(spark, sf_dir):
    """Main-content extraction (jusText/Arc90-class boilerplate
    removal) over pages assembled natively in-row: navigation, a share
    link-farm, a footer, and a too-short block wrap two real prose
    paragraphs and a heading. The Arrow ``extract_main_content`` stage
    must keep exactly the heading (promotion rule) + qualifying prose
    and report block statistics; the oracle states the expectation
    directly from the template construction."""
    from ..operators.content_extract import extract_main_content

    d = T(spark, sf_dir, "documents").select(
        "doc_id",
        F.trim(F.substring("text", 1, 80)).alias("p1"),
        F.trim(F.substring("text", 81, 80)).alias("p2"),
    )
    html = F.concat(
        F.lit(
            '<html><head><title>D</title><style>p{x:1}</style></head><body>'
            '<nav><a href="/">Home</a> <a href="/a">About</a> '
            '<a href="/c">Contact</a></nav>'
            "<h1>Doc "
        ),
        F.col("doc_id").cast("string"),
        F.lit("</h1><p>"),
        F.col("p1"),
        F.lit("</p><p>"),
        F.col("p2"),
        F.lit(
            '</p><div><a href="/l1">like</a> <a href="/l2">share</a> '
            '<a href="/l3">tweet</a></div><p>ok</p>'
            '<footer>&copy; 2025 <a href="/p">Privacy</a></footer>'
            "</body></html>"
        ),
    )
    pages = d.select("doc_id", html.alias("html"))
    return extract_main_content(pages).select(
        "doc_id", "main_text", "n_blocks", "n_content_blocks",
        "content_chars", "total_chars",
    )


_IVF_COS = (
    "round(list_dot_product({a}, {b}) / greatest("
    "sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})),"
    " 1e-12), 4)"
)


@q(
    "ann_ivf_topk",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
    c AS (SELECT vec_id AS cell_id, ev AS cv FROM e WHERE vec_id < 8),
    assigned AS (
      SELECT vec_id, ev, cell_id FROM (
        SELECT e.vec_id, e.ev, c.cell_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_IVF_COS.format(a='e.ev', b='c.cv')} DESC, c.cell_id
               ) AS r
        FROM e CROSS JOIN c
      ) WHERE r = 1
    ),
    q AS (SELECT vec_id AS query_id, ev AS qv FROM e WHERE vec_id < 5),
    probes AS (
      SELECT query_id, qv, cell_id FROM (
        SELECT q.query_id, q.qv, c.cell_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY {_IVF_COS.format(a='q.qv', b='c.cv')} DESC, c.cell_id
               ) AS r
        FROM q CROSS JOIN c
      ) WHERE r <= 2
    ),
    scored AS (
      SELECT p.query_id, a.vec_id,
             {_IVF_COS.format(a='p.qv', b='a.ev')} AS cos_sim
      FROM probes p JOIN assigned a USING (cell_id)
      WHERE a.vec_id <> p.query_id
    )
    SELECT query_id, vec_id, cos_sim,
           row_number() OVER (
             PARTITION BY query_id ORDER BY cos_sim DESC, vec_id
           ) AS rank
    FROM scored
    QUALIFY rank <= 5
    """,
)
def q_ann_ivf_topk(spark, sf_dir):
    """IVF-probe ANN: Voronoi cell assignment (zero-shuffle in-row
    argmax over the broadcast centroid array), n_probe=2 cells per
    query, exact cosine ranking within probed cells. The second ANN
    scale path next to hyperplane LSH."""
    emb = T(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    return ivf_topk(emb, queries, n_cells=8, n_probe=2, k=5)


def _kmeans_iter_sql(i: int, dim: int = 64) -> str:
    """One unrolled Lloyd iteration: portable-rounded assignment
    (round-4 cosine, ties to the lowest cell) then per-component means
    rounded to 9 — the exact decision contract ``kmeans_centroids``
    pins, so the chain reproduces the engine's centroids bit-for-bit."""
    means = ", ".join(f"round(avg(dv[{d + 1}]), 9)" for d in range(dim))
    prev = f"c{i - 1}"
    return f"""
    a{i} AS (
      SELECT vec_id, dv, cell FROM (
        SELECT e.vec_id, e.dv, c.cell,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_IVF_COS.format(a='e.dv', b='c.cv')} DESC, c.cell
               ) AS r
        FROM e CROSS JOIN {prev} c
      ) WHERE r = 1
    ),
    m{i} AS (
      SELECT cell, list_value({means}) AS cv FROM a{i} GROUP BY cell
    ),
    c{i} AS (
      SELECT p.cell, coalesce(m.cv, p.cv) AS cv
      FROM {prev} p LEFT JOIN m{i} m USING (cell)
    )"""


_KMEANS_CTES = (
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS dv FROM embeddings),
    c0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, dv AS cv
      FROM (SELECT vec_id, dv FROM e ORDER BY vec_id LIMIT 8)
    ),"""
    + ",".join(_kmeans_iter_sql(i) for i in (1, 2, 3))
)


@q(
    "ann_ivf_kmeans_topk",
    f"""
    {_KMEANS_CTES},
    c AS (SELECT cell AS cell_id, cv FROM c3),
    assigned AS (
      SELECT vec_id, dv AS ev, cell_id FROM (
        SELECT e.vec_id, e.dv, c.cell_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_IVF_COS.format(a='e.dv', b='c.cv')} DESC, c.cell_id
               ) AS r
        FROM e CROSS JOIN c
      ) WHERE r = 1
    ),
    q AS (SELECT vec_id AS query_id, dv AS qv FROM e WHERE vec_id < 5),
    probes AS (
      SELECT query_id, qv, cell_id FROM (
        SELECT q.query_id, q.qv, c.cell_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY {_IVF_COS.format(a='q.qv', b='c.cv')} DESC, c.cell_id
               ) AS r
        FROM q CROSS JOIN c
      ) WHERE r <= 2
    ),
    scored AS (
      SELECT p.query_id, a.vec_id,
             {_IVF_COS.format(a='p.qv', b='a.ev')} AS cos_sim
      FROM probes p JOIN assigned a USING (cell_id)
      WHERE a.vec_id <> p.query_id
    )
    SELECT query_id, vec_id, cos_sim,
           row_number() OVER (
             PARTITION BY query_id ORDER BY cos_sim DESC, vec_id
           ) AS rank
    FROM scored
    QUALIFY rank <= 5
    """,
)
def q_ann_ivf_kmeans_topk(spark, sf_dir):
    """IVF with offline Lloyd's k-means centroid placement
    (``kmeans_centroids``) instead of seed vectors — the full two-stage
    IVF pipeline. The training loop IS oracle-checked: 3 Lloyd
    iterations unrolled as DuckDB CTE chains (round-4 assignment,
    round-9 means, empty-cell carry-over — the engine's exact decision
    contract), feeding the same probe/rank SQL as ``ann_ivf_topk``."""
    from ..operators.similarity import kmeans_centroids

    emb = T(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    cents = kmeans_centroids(emb, n_cells=8, n_iter=3)
    return ivf_topk(emb, queries, n_cells=8, n_probe=2, k=5, centroids=cents)


# -------------------------------------------------------------------------
# streaming-equivalent windowed aggregation + TPC-H-class joins
# -------------------------------------------------------------------------


@q(
    "events_hour_window",
    """
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M') AS window_start,
           event_type,
           count(*)::BIGINT AS n,
           round(sum(value), 2) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def q_events_hour_window(spark, sf_dir):
    """Tumbling event-time window aggregation (the batch form of a
    streaming per-host rate plan)."""
    ev = T(spark, sf_dir, "events")
    return ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value")
    ).select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm").alias("window_start"),
        "event_type",
        "n",
        "total_value",
    )


@q(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_discount), 4) AS avg_disc,
           count(*)::BIGINT AS count_order
    FROM lineitem
    WHERE l_shipdate <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1-class pricing summary (partial-agg friendly)."""
    li = T(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("date")
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "sum_disc_price"
        ),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.avg("l_discount"), 4).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


@q(
    "top_revenue_orders",
    """
    SELECT l.l_orderkey AS orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, orderkey LIMIT 10
    """,
)
def q_top_revenue_orders(spark, sf_dir):
    """TPC-H Q3-class: selective dim filter → join → agg → top-k
    (broadcast the filtered customer side)."""
    c = T(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = T(spark, sf_dir, "orders")
    l = T(spark, sf_dir, "lineitem")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(F.col("l_orderkey").alias("orderkey"), "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.col("revenue").desc(), "orderkey")
        .limit(10)
    )


@q(
    "nation_volume",
    """
    SELECT n.n_name, round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN supplier s ON s.s_nationkey = n.n_nationkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey AND l.l_suppkey = s.s_suppkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
)
def q_nation_volume(spark, sf_dir):
    """TPC-H Q5-class 6-table join (broadcast dims, co-located facts)."""
    r = T(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = T(spark, sf_dir, "nation")
    s = T(spark, sf_dir, "supplier")
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    l = T(spark, sf_dir, "lineitem")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


# -------------------------------------------------------------------------
# duplicate-cluster resolution (connected components over pair graphs)
# -------------------------------------------------------------------------

_CC_EDGE_CTES = """
    base AS (SELECT doc_id FROM documents WHERE doc_id < 400),
    e0 AS (
      SELECT doc_id AS src, doc_id + 1 AS dst FROM base
      WHERE doc_id % 9 IN (0, 1, 2) AND doc_id + 1 < 400
      UNION ALL
      SELECT doc_id, doc_id + 18 FROM base
      WHERE doc_id % 36 = 0 AND doc_id + 18 < 400
    ),
    sym AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
    reach(node, lab) AS (
      SELECT src, src FROM sym
      UNION
      SELECT s.src, r.lab FROM sym s JOIN reach r ON s.dst = r.node
    ),
    comp AS (
      SELECT node::BIGINT AS node, min(lab)::BIGINT AS component
      FROM reach GROUP BY node
    )
"""


def _cc_edges(spark, sf_dir):
    """Deterministic pair graph over `documents`: length-4 chains
    (d, d+1 for d%9 in 0..2) plus merge links (d, d+18 for d%36=0)
    that weld two chains into one 8-node, diameter-7 cluster — the
    multi-hop shape pairwise dropping gets wrong."""
    base = (
        T(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 400)
    )
    chain = base.filter(
        (F.col("doc_id") % 9).isin(0, 1, 2) & (F.col("doc_id") + 1 < 400)
    ).select(F.col("doc_id").alias("src"), (F.col("doc_id") + 1).alias("dst"))
    merge = base.filter(
        (F.col("doc_id") % 36 == 0) & (F.col("doc_id") + 18 < 400)
    ).select(F.col("doc_id").alias("src"), (F.col("doc_id") + 18).alias("dst"))
    return chain.unionByName(merge)


@q(
    "dedup_components",
    f"""
    WITH RECURSIVE {_CC_EDGE_CTES}
    SELECT node, component FROM comp
    """,
)
def q_dedup_components(spark, sf_dir):
    """Min-label-propagation connected components (the post-MinHash
    cluster step): every node labeled with the minimum doc_id reachable
    through the near-dup pair graph. Oracle is a DuckDB recursive CTE
    computing the same transitive closure."""
    return connected_components(_cc_edges(spark, sf_dir))


@q(
    "dedup_cluster_keep",
    f"""
    WITH RECURSIVE {_CC_EDGE_CTES}
    SELECT d.doc_id, length(d.text) AS n_chars
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT node FROM comp WHERE node <> component)
      AND d.doc_id < 400
    """,
)
def q_dedup_cluster_keep(spark, sf_dir):
    """One representative per duplicate cluster (minimum id) + all
    unpaired docs — the dedup DECISION derived from the component
    labels, with no transitive over-deletion."""
    docs = (
        T(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 400)
        .select("doc_id", F.length("text").alias("n_chars"))
    )
    return dedup_keep_representatives(
        docs, _cc_edges(spark, sf_dir), left_col="src", right_col="dst"
    )


# -------------------------------------------------------------------------
# source-level curation: domain quality gate + temperature mixture
# -------------------------------------------------------------------------

_SRC_STATS_SQL = f"""
      SELECT source,
             count(*)::BIGINT AS n_docs,
             sum(len({_TOKS_SQL}))::BIGINT AS total_tokens,
             round(sum(length(regexp_replace(text, '[^A-Za-z]', '', 'g')))
                   / greatest(sum(length(text)), 1)::DOUBLE, 4) AS alpha_ratio
      FROM documents GROUP BY source
"""

_MIX_RATE_SQL = """
      SELECT source, n_docs, total_tokens, alpha_ratio,
             least(1.0, round(pow(total_tokens / (min(total_tokens) OVER ()),
                                  0.7 - 1), 4)) AS rate
      FROM s
"""


@q(
    "source_mixture_rates",
    f"""
    WITH s AS ({_SRC_STATS_SQL})
    {_MIX_RATE_SQL}
    """,
)
def q_source_mixture_rates(spark, sf_dir):
    """Per-source corpus stats + temperature-0.7 mixture acceptance
    rates: post-sample token mass ∝ T_s^0.7, smallest source keeps
    rate 1 (no upsampling). One aggregate keyed by source; the rate is
    a window over the domain-sized stats table."""
    stats = source_stats(T(spark, sf_dir, "documents"))
    return mixture_rates(stats, temperature=0.7)


@q(
    "mixture_sample",
    f"""
    WITH s AS ({_SRC_STATS_SQL}),
    r AS ({_MIX_RATE_SQL}),
    acc AS (
      SELECT d.source, len({_TOKS_SQL}) AS toks
      FROM documents d JOIN r ON d.source = r.source
      WHERE ('0x' || substr(md5('mix' || d.doc_id), 1, 8))::BIGINT % 10000
            < round(r.rate * 10000)
    )
    SELECT source, count(*)::BIGINT AS n_sampled, sum(toks)::BIGINT AS sampled_tokens
    FROM acc GROUP BY source
    """,
)
def q_mixture_sample(spark, sf_dir):
    """Deterministic temperature resample applied: md5-bucket accept
    under each source's rate, then per-source sampled doc/token
    counts. Rates broadcast; the accept test is scan-local."""
    docs = T(spark, sf_dir, "documents")
    rates = mixture_rates(source_stats(docs), temperature=0.7)
    samp = mixture_sample(docs, rates)
    return samp.groupBy("source").agg(
        F.count("*").alias("n_sampled"),
        F.sum(F.size(tokens(F.col("text")))).alias("sampled_tokens"),
    )


_JUNK_LINE = "!!! ### $$$ %%%"
_DIGIT_LINE = "0 1 2 3 4 5 6 7 8 9 "


@q(
    "source_quality_gate",
    f"""
    WITH corpus AS (
      SELECT doc_id, text, source FROM documents
      UNION ALL
      SELECT doc_id + 500000, '{_JUNK_LINE}', 'junkfarm'
      FROM documents WHERE doc_id % 11 = 0
      UNION ALL
      SELECT doc_id + 600000,
             CASE WHEN doc_id % 2 = 0 THEN text
                  ELSE repeat('{_DIGIT_LINE}', 20) END,
             'mixed'
      FROM documents WHERE doc_id % 13 = 0
    ),
    s AS (
      SELECT source, count(*) AS n_docs,
             round(sum(length(regexp_replace(text, '[^A-Za-z]', '', 'g')))
                   / greatest(sum(length(text)), 1)::DOUBLE, 4) AS alpha_ratio
      FROM corpus GROUP BY source
    )
    SELECT c.doc_id, c.source
    FROM corpus c JOIN s ON c.source = s.source
    WHERE s.alpha_ratio >= 0.5 AND s.n_docs >= 1
    """,
)
def q_source_quality_gate(spark, sf_dir):
    """Domain-level quality gate: inject a pure-junk source plus a
    'mixed' source whose junk pages outweigh its clean ones — the gate
    computes corpus-level alpha (sum/sum) per source and drops BOTH
    whole sources, including mixed's individually-clean docs (the
    domain-shaped-spam semantic per-doc filters get wrong)."""
    docs = T(spark, sf_dir, "documents").select("doc_id", "text", "source")
    junk = docs.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 500000).alias("doc_id"),
        F.lit(_JUNK_LINE).alias("text"),
        F.lit("junkfarm").alias("source"),
    )
    mixed = docs.filter(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + 600000).alias("doc_id"),
        F.when(F.col("doc_id") % 2 == 0, F.col("text"))
        .otherwise(F.repeat(F.lit(_DIGIT_LINE), 20))
        .alias("text"),
        F.lit("mixed").alias("source"),
    )
    corpus = docs.unionByName(junk).unionByName(mixed)
    return source_quality_gate(corpus, min_alpha=0.5, min_docs=1).select(
        "doc_id", "source"
    )


# -------------------------------------------------------------------------
# cross-document duplicate-span (exact-substring) removal
# -------------------------------------------------------------------------

_SPAN_PROMO = "free newsletter signup brings daily updates straight into your inbox"
_SPAN_W = 6
_SPAN_TOKS = "list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')"


@q(
    "span_dedup",
    f"""
    WITH corpus AS (
      SELECT doc_id,
             text || CASE WHEN doc_id % 3 = 0 THEN ' {_SPAN_PROMO}' ELSE '' END AS text
      FROM documents
    ),
    toks AS (SELECT doc_id, {_SPAN_TOKS} AS t FROM corpus),
    h AS (
      SELECT doc_id, p, md5(array_to_string(t[p+1:p+{_SPAN_W}], ' ')) AS whash
      FROM (
        SELECT doc_id, t,
               unnest(range(0, greatest(len(t) - {_SPAN_W} + 1, 0))) AS p
        FROM toks
      )
    ),
    fst AS (SELECT whash, min(doc_id) AS fd FROM h GROUP BY whash),
    marks AS (
      SELECT DISTINCT doc_id, pos FROM (
        SELECT h.doc_id, unnest(range(h.p, h.p + {_SPAN_W})) AS pos
        FROM h JOIN fst USING (whash) WHERE h.doc_id > fst.fd
      )
    ),
    positions AS (
      SELECT doc_id, unnest(t) AS tok, unnest(range(0, len(t))) AS pos FROM toks
    ),
    kept AS (
      SELECT p.doc_id,
             string_agg(p.tok, ' ' ORDER BY p.pos) AS clean,
             count(*) AS nk
      FROM positions p ANTI JOIN marks m USING (doc_id, pos)
      GROUP BY p.doc_id
    )
    SELECT t.doc_id,
           coalesce(k.clean, '') AS clean_text,
           (len(t.t) - coalesce(k.nk, 0))::BIGINT AS n_removed
    FROM toks t LEFT JOIN kept k USING (doc_id)
    """,
)
def q_span_dedup(spark, sf_dir):
    """Exact-substring dedup (Lee et al. semantics, rolling-hash
    Spark shape): a 10-token promo is appended to every 3rd doc; every
    verbatim 6-token window shared across docs is stripped everywhere
    except its minimum-id owner — including incidental n-gram
    collisions in the synthetic corpus, which both engines must agree
    on exactly."""
    docs = T(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(" " + _SPAN_PROMO)).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )
    return strip_duplicate_spans(docs, window=_SPAN_W)


# -------------------------------------------------------------------------
# deletable URL-state filter + WET round trip
# -------------------------------------------------------------------------


@q(
    "cuckoo_evict",
    # The oracle checks the filter's hard guarantees as derived counts
    # (hashing itself is engine-side): inserting the even doc_ids,
    # deleting the multiples of 4, then probing must find EVERY kept
    # key (no false negatives, n_kept_present = count(%4==2)), the
    # item count must drop by exactly the deletions, and for this
    # pinned key set no deleted key stays visible.
    """
    SELECT
      count(*) FILTER (doc_id % 2 = 0)::BIGINT AS n_inserted,
      count(*) FILTER (doc_id % 4 = 2)::BIGINT AS n_after_delete,
      count(*) FILTER (doc_id % 4 = 2)::BIGINT AS n_kept_present,
      0::BIGINT AS n_deleted_present
    FROM documents WHERE doc_id < 500
    """,
)
def q_cuckoo_evict(spark, sf_dir):
    """Deletable URL-state filter (operators/cuckoo.py): partitioned
    cuckoo filter (Fan et al. 2014) — the companion to the append-only
    Bloom seen-set for states that EVICT (retired URLs, in-flight
    reservations). Inserts, deletes, and probes via sharded co-group
    stages; emits the invariant counts."""
    from ..operators.cuckoo import (
        build_cuckoo_table,
        cuckoo_delete,
        cuckoo_might_contain,
    )

    docs = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    key = F.xxhash64(F.col("doc_id")).alias("url_hash")
    evens = docs.filter(F.col("doc_id") % 2 == 0).select(key)
    table = build_cuckoo_table(evens, n_shards=8, expected_per_shard=256)
    dels = docs.filter(F.col("doc_id") % 4 == 0).select(key)
    table2 = cuckoo_delete(table, dels).persist()
    kept = docs.filter(F.col("doc_id") % 4 == 2).select(key)
    n_inserted = table.agg(F.sum("n_items").alias("n_inserted"))
    n_after = table2.agg(F.sum("n_items").alias("n_after_delete"))
    n_kept = (
        cuckoo_might_contain(kept, table2)
        .agg(
            F.sum(F.col("maybe_member").cast("long")).alias("n_kept_present")
        )
    )
    n_del = (
        cuckoo_might_contain(dels, table2)
        .agg(
            F.sum(F.col("maybe_member").cast("long")).alias(
                "n_deleted_present"
            )
        )
    )
    return (
        n_inserted.crossJoin(n_after).crossJoin(n_kept).crossJoin(n_del)
    )


@q(
    "wet_roundtrip",
    """
    SELECT 'https://' || source || '.example.com/doc/' || doc_id AS url,
           strftime(TIMESTAMP '2025-01-01 00:00:00'
                    + (doc_id % 86400) * INTERVAL 1 SECOND,
                    '%Y-%m-%dT%H:%M:%SZ') AS warc_ts,
           'conversion' AS warc_type,
           NULL::INTEGER AS http_status,
           NULL AS content_type,
           octet_length(encode(text))::BIGINT AS n_body_bytes,
           text AS body
    FROM documents
    """,
)
def q_wet_roundtrip(spark, sf_dir):
    """WET extracted-text sidecar round-trip (sources/warc.py:
    wet_record): render every document as a Common-Crawl-style
    conversion record with native expressions, pack ~7 per archive
    blob, parse back with the SAME length-driven reader as response
    records. Conversion records carry no HTTP envelope, so status and
    content_type must come back NULL and the payload byte-identical."""
    from ..sources.warc import parse_warc, wet_record

    docs = T(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/doc/"),
        F.col("doc_id").cast("string"),
    )
    ts = F.date_format(
        F.timestamp_seconds(
            F.unix_timestamp(F.lit("2025-01-01 00:00:00"))
            + (F.col("doc_id") % 86400)
        ),
        "yyyy-MM-dd'T'HH:mm:ss'Z'",
    )
    record = wet_record(url, ts, F.col("text"))
    blobs = (
        docs.select(
            (F.col("doc_id") % 7).alias("file_id"),
            F.struct(F.col("doc_id").alias("k"), record.alias("r")).alias("s"),
        )
        .groupBy("file_id")
        .agg(
            F.encode(
                F.array_join(
                    F.transform(
                        F.sort_array(F.collect_list("s")), lambda s: s["r"]
                    ),
                    "",
                ),
                "UTF-8",
            ).alias("content")
        )
    )
    return parse_warc(blobs).select(
        "url",
        "warc_ts",
        "warc_type",
        "http_status",
        "content_type",
        "n_body_bytes",
        F.decode(F.col("html"), "UTF-8").alias("body"),
    )
