"""Correctness-suite entries for the data-pipeline operators (dedup,
similarity search, text analysis) over the ``documents`` / ``embeddings``
tables — registered into the same QUERIES/ORACLE dicts as the OLAP suite.

Oracles reimplement each operator in DuckDB SQL from the same deterministic
primitives (md5-derived hashes, double-precision sequential dot products),
so Spark and DuckDB agree bit-for-bit modulo float rounding.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from . import fsio
from .operators import dedup, similarity, text
from .operators.sampling import split_case_sql as _split_case_sql
from .star import read_parquet_table
from .suite import ORACLE, QUERIES, q

_DOC_TOKS = "string_split_regex(trim(text), '\\s+')"

# shared oracle fragment: distinct 3-shingles per document (positional join)
_SHINGLES_SQL = f"""
toks AS (
  SELECT doc_id, unnest({_DOC_TOKS}) AS w,
         generate_subscripts({_DOC_TOKS}, 1) AS pos
  FROM documents
),
sh AS (
  SELECT DISTINCT a.doc_id AS id, a.w || ' ' || b.w || ' ' || c.w AS shingle
  FROM toks a
  JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  JOIN toks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
),
sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY 1)
"""

_JACCARD_SQL = f"""
WITH {_SHINGLES_SQL},
common AS (
  SELECT x.id AS id_a, y.id AS id_b, count(*) AS c
  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.id < y.id
  GROUP BY 1, 2
)
SELECT id_a, id_b, round(c * 1.0 / (sa.n_sh + sb.n_sh - c), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE c * 1.0 / (sa.n_sh + sb.n_sh - c) >= 0.8
"""


def _docs(spark, sf_dir):
    return read_parquet_table(spark, f"{sf_dir}/documents.parquet")


def _emb(spark, sf_dir):
    return read_parquet_table(spark, f"{sf_dir}/embeddings.parquet")


# ---------------------------------------------------------------- dedup
@q(
    "dedup_exact_fingerprint",
    """
    SELECT md5(lower(trim(text))) AS fingerprint, min(doc_id) AS keep_id,
           count(*) AS dup_count
    FROM documents GROUP BY 1
    """,
)
def dedup_exact_fingerprint(spark, sf_dir):
    return dedup.exact_dedup(_docs(spark, sf_dir))


@q("dedup_ngram_jaccard_pairs", _JACCARD_SQL)
def dedup_ngram_jaccard_pairs(spark, sf_dir):
    """Exact 3-gram Jaccard near-dup pairs via sparse shingle join."""
    df = dedup.jaccard_pairs(_docs(spark, sf_dir), threshold=0.8)
    return df.withColumn("jaccard", F.round("jaccard", 6))


@q("dedup_minhash_lsh_pairs", _JACCARD_SQL)
def dedup_minhash_lsh_pairs(spark, sf_dir):
    """MinHash-LSH candidates + exact verification.  The oracle is the exact
    all-pairs Jaccard — LSH recall at the planted-near-dup similarity levels
    (≥0.95) is ~1-1e-13, verified empirically on this corpus."""
    df = dedup.minhash_dedup_pairs(_docs(spark, sf_dir), threshold=0.8)
    return df.withColumn("jaccard", F.round("jaccard", 6))


@q(
    "dedup_simhash_pairs",
    f"""
    WITH {_SHINGLES_SQL},
    th AS (
      SELECT id AS doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h FROM sh
    ),
    bitsum AS (
      SELECT doc_id, bits.b AS bit,
             sum(CASE WHEN (h >> bits.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM th CROSS JOIN (SELECT unnest(range(0, 32)) AS b) bits
      GROUP BY 1, 2
    ),
    sig AS (
      SELECT doc_id,
             sum(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0::BIGINT END) AS sh
      FROM bitsum GROUP BY 1
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.sh, b.sh)) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sh, b.sh)) <= 3
    """,
)
def dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs (32-bit, hamming ≤ 3) with chunk blocking —
    recall-guaranteed by pigeonhole, verified against brute-force SQL."""
    return dedup.simhash_pairs(_docs(spark, sf_dir), bits=32, max_hamming=3, chunks=4)


# ------------------------------------------------------------ similarity
_EMB_D = "embedding::DOUBLE[]"


@q(
    "embed_cosine_topk",
    f"""
    WITH e AS (SELECT vec_id, {_EMB_D} AS v FROM embeddings),
    qv AS (
      SELECT vec_id AS query_id, v AS qvec FROM e
      WHERE vec_id IN (0, 100, 200, 300, 400)
    ),
    p AS (
      SELECT query_id, e.vec_id AS neighbor_id,
             list_dot_product(qvec, v)
               / (sqrt(list_dot_product(qvec, qvec)) * sqrt(list_dot_product(v, v))) AS cos
      FROM qv JOIN e ON e.vec_id <> qv.query_id
    )
    SELECT query_id, neighbor_id, round(cos, 6) AS cosine
    FROM p
    QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) <= 10
    """,
)
def embed_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k (ANN correctness baseline)."""
    df = similarity.cosine_topk(_emb(spark, sf_dir), [0, 100, 200, 300, 400], k=10)
    return df.withColumn("cosine", F.round("cosine", 6))


@q(
    "embed_neardup_pairs",
    f"""
    WITH e AS (SELECT vec_id, {_EMB_D} AS v FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)
             AS cosine
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.45
    """,
)
def embed_neardup_pairs(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (exact threshold scan)."""
    df = similarity.cosine_pairs_threshold(_emb(spark, sf_dir), 0.45)
    return df.withColumn("cosine", F.round("cosine", 6))


# ------------------------------------------------------------------ text
_STOP = {
    lang: ", ".join(f"'{w}'" for w in words) for lang, words in text.STOPWORDS.items()
}
_VOTE = {
    lang: (
        f"len(list_filter(list_transform({_DOC_TOKS}, t -> lower(t)), "
        f"t -> t IN ({_STOP[lang]})))"
    )
    for lang in _STOP
}
_LANG_SQL = f"""CASE
    WHEN {_VOTE['en']} >= greatest({_VOTE['de']}, {_VOTE['fr']}, {_VOTE['es']})
         AND {_VOTE['en']} > 0 THEN 'en'
    WHEN {_VOTE['de']} >= greatest({_VOTE['fr']}, {_VOTE['es']})
         AND {_VOTE['de']} > 0 THEN 'de'
    WHEN {_VOTE['fr']} >= {_VOTE['es']} AND {_VOTE['fr']} > 0 THEN 'fr'
    WHEN {_VOTE['es']} > 0 THEN 'es'
    ELSE 'und' END"""

_QUALITY_SQL = f"""
    round(least(1.0, len({_DOC_TOKS}) / 100.0) * 0.4
      + (len(list_filter(list_transform({_DOC_TOKS}, t -> lower(t)),
             t -> t IN ({_STOP['en']}))) * 1.0 / greatest(len({_DOC_TOKS}), 1)) * 0.4
      + (1.0 - length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) * 1.0
           / greatest(length(text), 1)) * 0.2, 6)
"""


@q(
    "text_quality_features",
    f"""
    SELECT doc_id, len({_DOC_TOKS}) AS n_tokens,
           CAST({_QUALITY_SQL} AS DOUBLE) AS quality_score,
           md5(array_to_string(list_sort(list_distinct({_DOC_TOKS})), ' '))
             AS bag_fingerprint,
           {_LANG_SQL} AS lang_guess
    FROM documents
    """,
)
def text_quality_features(spark, sf_dir):
    """Per-document quality features: token count, composite quality score,
    bag-of-words fingerprint, stopword-vote language guess."""
    df = text.text_features(_docs(spark, sf_dir))
    return df.select("doc_id", "n_tokens", "quality_score", "bag_fingerprint", "lang_guess")


@q(
    "text_langid_distribution",
    f"""
    SELECT {_LANG_SQL} AS lang_guess, count(*) AS n_docs
    FROM documents GROUP BY 1
    """,
)
def text_langid_distribution(spark, sf_dir):
    df = text.text_features(_docs(spark, sf_dir))
    return df.groupBy("lang_guess").agg(F.count("*").alias("n_docs"))


@q(
    "text_stats_by_source",
    f"""
    SELECT source, CAST(sum(len({_DOC_TOKS})) AS BIGINT) AS total_tokens,
           CAST(round(avg({_QUALITY_SQL}), 6) AS DOUBLE) AS avg_quality,
           count(*) AS n_docs
    FROM documents GROUP BY 1
    """,
)
def text_stats_by_source(spark, sf_dir):
    # DuckDB sum(BIGINT) is HUGEINT and round() over decimal avg is DECIMAL —
    # both stringify differently under the driver's value hash, so the oracle
    # casts to BIGINT/DOUBLE and the Spark side matches (sum(int)=BIGINT,
    # avg(double)=DOUBLE natively).
    df = text.text_features(_docs(spark, sf_dir))
    return df.groupBy("source").agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("quality_score"), 6).cast("double").alias("avg_quality"),
        F.count("*").alias("n_docs"),
    )


@q(
    "text_repetition_features",
    f"""
    WITH t AS (SELECT doc_id, {_DOC_TOKS} AS toks FROM documents),
    g AS (
      SELECT doc_id, toks,
             CASE WHEN len(toks) >= 2 THEN
               list_transform(range(1, len(toks)),
                 i -> toks[i] || ' ' || toks[i + 1])
             ELSE [array_to_string(toks, ' ')] END AS grams
      FROM t
    )
    SELECT doc_id,
           CAST(round(1.0 - len(list_distinct(toks)) * 1.0
                / greatest(len(toks), 1), 6) AS DOUBLE) AS dup_token_fraction,
           CAST(round(least(1.0,
                  list_max(list_transform(list_distinct(grams),
                    x -> len(list_filter(grams, y -> y = x)))) * 2 * 1.0
                  / greatest(len(toks), 1)), 6) AS DOUBLE)
             AS top_ngram_fraction
    FROM g
    """,
)
def text_repetition_features(spark, sf_dir):
    """Gopher-style repetition signals: duplicate-token fraction and the
    corpus share of the single most frequent 2-gram — expression-only,
    per-row O(d²) over one document's distinct grams."""
    df = text.repetition_features(_docs(spark, sf_dir))
    return df.select("doc_id", "dup_token_fraction", "top_ngram_fraction")


@q(
    "text_winnowing_fingerprints",
    f"""
    WITH t AS (SELECT doc_id, {_DOC_TOKS} AS toks FROM documents),
    kg AS (
      SELECT doc_id,
             list_transform(range(1, greatest(len(toks) - 4, 1) + 1),
               i -> ('0x' || substr(md5(array_to_string(toks[i:i+4], ' ')), 1, 15))::BIGINT)
               AS grams
      FROM t
    )
    SELECT DISTINCT doc_id AS id,
           unnest(list_transform(range(1, greatest(len(grams) - 3, 1) + 1),
                  i -> list_min(grams[i:i+3]))) AS fingerprint
    FROM kg
    """,
)
def text_winnowing_fingerprints(spark, sf_dir):
    """Winnowing (rolling-hash) document fingerprints: 5-gram hashes,
    minimum per 4-window."""
    return text.rolling_fingerprints(_docs(spark, sf_dir), k=5, window=4)


@q(
    "dedup_keep_list",
    f"""
    WITH RECURSIVE {_SHINGLES_SQL},
    common AS (
      SELECT x.id AS id_a, y.id AS id_b, count(*) AS c
      FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.id < y.id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id_a, id_b FROM common
      JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
      WHERE c * 1.0 / (sa.n_sh + sb.n_sh - c) >= 0.8
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(node, target) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT reach.node, edges.dst FROM reach JOIN edges ON edges.src = reach.target
    )
    SELECT node AS id, min(target) AS cluster,
           (node = min(target)) AS keep
    FROM reach GROUP BY 1
    """,
)
def dedup_keep_list(spark, sf_dir):
    """End-to-end dedup: near-dup pairs → connected components → one
    canonical survivor per cluster (keep-list).  Oracle: recursive-CTE
    reachability over the same exact-Jaccard pair graph."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.jaccard_pairs(docs, threshold=0.8)
    ids = docs.select(F.col("doc_id").alias("id"))
    return dedup.dedup_clusters(ids, pairs)


@q(
    "embed_ivf_topk",
    f"""
    WITH en AS (
      SELECT vec_id, {_EMB_D} AS v,
             sqrt(list_dot_product({_EMB_D}, {_EMB_D})) AS nv
      FROM embeddings
      WHERE list_dot_product({_EMB_D}, {_EMB_D}) > 0
    ),
    c AS (SELECT vec_id AS cid, v AS cv, nv AS cn FROM en ORDER BY vec_id LIMIT 8),
    a AS (
      SELECT en.vec_id, c.cid,
             row_number() OVER (
               PARTITION BY en.vec_id
               ORDER BY list_dot_product(en.v, c.cv) / (en.nv * c.cn) DESC, c.cid
             ) AS rn
      FROM en CROSS JOIN c
    ),
    cell AS (SELECT vec_id, cid AS cell FROM a WHERE rn = 1),
    probe AS (
      SELECT vec_id AS query_id, cid AS cell FROM a
      WHERE rn <= 2 AND vec_id IN (0, 100, 200, 300, 400)
    ),
    scored AS (
      SELECT p.query_id, ce.vec_id AS neighbor_id,
             list_dot_product(q.v, n.v) / (q.nv * n.nv) AS cos
      FROM probe p
      JOIN cell ce ON ce.cell = p.cell AND ce.vec_id <> p.query_id
      JOIN en q ON q.vec_id = p.query_id
      JOIN en n ON n.vec_id = ce.vec_id
    )
    SELECT query_id, neighbor_id, round(cos, 6) AS cosine
    FROM scored
    QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) <= 10
    """,
)
def embed_ivf_topk(spark, sf_dir):
    """IVF approximate top-k (the tunable-recall ANN scale path: probe
    n_probe of n_cells coarse cells instead of the whole corpus)."""
    df = similarity.ivf_topk(
        _emb(spark, sf_dir), [0, 100, 200, 300, 400], k=10, n_cells=8, n_probe=2
    )
    return df.withColumn("cosine", F.round("cosine", 6))


@q(
    "embed_ivf_append_gate",
    f"""
    WITH en AS (
      SELECT vec_id, {_EMB_D} AS v,
             sqrt(list_dot_product({_EMB_D}, {_EMB_D})) AS nv
      FROM embeddings
      WHERE list_dot_product({_EMB_D}, {_EMB_D}) > 0
    ),
    -- centroids come from the BASE build only (the artifact's quantizer);
    -- appended vectors are assigned against them, never re-seeded
    c AS (
      SELECT vec_id AS cid, v AS cv, nv AS cn FROM en
      WHERE vec_id % 10 != 0 ORDER BY vec_id LIMIT 8
    ),
    a AS (
      SELECT en.vec_id, c.cid,
             row_number() OVER (
               PARTITION BY en.vec_id
               ORDER BY list_dot_product(en.v, c.cv) / (en.nv * c.cn) DESC, c.cid
             ) AS rn
      FROM en CROSS JOIN c
    ),
    cell AS (SELECT vec_id, cid AS cell FROM a WHERE rn = 1),
    probe AS (
      SELECT vec_id AS query_id, cid AS cell FROM a
      WHERE rn <= 2 AND vec_id IN (0, 100, 200, 300, 400)
    ),
    scored AS (
      SELECT p.query_id, ce.vec_id AS neighbor_id,
             list_dot_product(q.v, n.v) / (q.nv * n.nv) AS cos
      FROM probe p
      JOIN cell ce ON ce.cell = p.cell AND ce.vec_id <> p.query_id
      JOIN en q ON q.vec_id = p.query_id
      JOIN en n ON n.vec_id = ce.vec_id
    )
    SELECT query_id, neighbor_id, round(cos, 6) AS cosine
    FROM scored
    QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) <= 10
    """,
)
def embed_ivf_append_gate(spark, sf_dir):
    """Incremental ANN index MAINTENANCE in the driver gate: the IVF index
    is built and persisted from a BASE corpus (90% of vectors), then
    ivf_append folds in the held-out delta — one delta-sized
    inlined-centroid projection + a partitioned append, never a corpus
    rescan — and a probe over the updated artifact must hash-match the
    oracle's from-scratch assignment of the FULL corpus against the
    base-derived centroids.  The probe queries are all DELTA vectors, so
    appended rows are proven both query-able and retrievable."""
    import tempfile

    emb = _emb(spark, sf_dir)
    base = emb.filter("vec_id % 10 != 0")
    delta = emb.filter("vec_id % 10 = 0")
    work = tempfile.mkdtemp(prefix="ivf_append_") + "/index"
    similarity.write_ivf_index(base, work, n_cells=8)
    similarity.ivf_append(delta, work)
    idx, cents = similarity.read_ivf_index(spark, work)
    df = similarity.ivf_topk(
        emb, [0, 100, 200, 300, 400], k=10, n_probe=2,
        index=idx, centroids=cents,
    )
    return df.withColumn("cosine", F.round("cosine", 6))


# ------------------------------------------------- training-set plumbing
from .operators import sampling  # noqa: E402  (module-level for oracle SQL)

_SPLIT_WEIGHTS = {"train": 0.9, "val": 0.05, "test": 0.05}


@q(
    "pipeline_split_counts",
    f"""
    SELECT {sampling.split_case_sql(_SPLIT_WEIGHTS)} AS split, source,
           count(*) AS n_docs
    FROM documents GROUP BY 1, 2
    """,
)
def pipeline_split_counts(spark, sf_dir):
    """Deterministic hash-bucket train/val/test assignment — reproducible
    across engines, runs, and partition layouts (unlike rand()-based
    splits).  One projection, no shuffle beyond the final count."""
    df = sampling.assign_splits(_docs(spark, sf_dir), _SPLIT_WEIGHTS)
    return df.groupBy("split", "source").agg(F.count("*").alias("n_docs"))


@q(
    "pipeline_deterministic_sample",
    f"""
    SELECT source, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum
    FROM documents
    WHERE {sampling.bucket_sql("doc_id", "sample")} < 2000
    GROUP BY 1
    """,
)
def pipeline_deterministic_sample(spark, sf_dir):
    """Content-hash Bernoulli sample (20%): the same records every run on
    every engine — what keeps eval sets stable under re-ingestion."""
    df = sampling.deterministic_sample(_docs(spark, sf_dir), 0.2)
    return df.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("doc_id").alias("id_sum")
    )


@q(
    "pipeline_split_contamination",
    f"""
    WITH labeled AS (
      SELECT doc_id, text, {sampling.split_case_sql(_SPLIT_WEIGHTS)} AS split
      FROM documents
    ),
    -- positional trigram join: like the shared _SHINGLES_SQL, emits no
    -- shingles for <3-token documents (the synthetic corpus has none;
    -- Spark's shingles() would emit the whole-text shingle there)
    toks AS (
      SELECT doc_id, split, unnest({_DOC_TOKS}) AS w,
             generate_subscripts({_DOC_TOKS}, 1) AS pos
      FROM labeled
    ),
    sh AS (
      SELECT DISTINCT a.doc_id AS id, a.split,
             a.w || ' ' || b.w || ' ' || c.w AS shingle
      FROM toks a
      JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      JOIN toks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
    ),
    sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY 1),
    common AS (
      SELECT x.id AS corpus_id, y.id AS heldout_id, count(*) AS c
      FROM sh x JOIN sh y ON x.shingle = y.shingle
      WHERE x.split = 'train' AND y.split <> 'train'
      GROUP BY 1, 2
    )
    SELECT corpus_id, heldout_id,
           round(c * 1.0 / (sa.n_sh + sb.n_sh - c), 6) AS jaccard
    FROM common
    JOIN sizes sa ON sa.id = corpus_id
    JOIN sizes sb ON sb.id = heldout_id
    WHERE c * 1.0 / (sa.n_sh + sb.n_sh - c) >= 0.8
    """,
)
def pipeline_split_contamination(spark, sf_dir):
    """Eval-contamination check: near-dup pairs BETWEEN the deterministic
    train split and the held-out (val+test) splits — the benchmark-leakage
    hygiene pass.  Cross-frame sparse shingle join; candidates are only
    cross-split documents sharing a shingle, never |train|x|heldout|."""
    s = sampling.assign_splits(_docs(spark, sf_dir), _SPLIT_WEIGHTS)
    # max_shingle_df=None: the oracle models UNGUARDED shingle sets — the
    # guard's behavior has its own test; this entry pins exact Jaccard
    df = dedup.contamination_pairs(
        s.filter("split = 'train'"), s.filter("split <> 'train'"),
        threshold=0.8, max_shingle_df=None,
    )
    return df.withColumn("jaccard", F.round("jaccard", 6))


@q(
    "text_chunking",
    f"""
    WITH t AS (SELECT doc_id AS id, {_DOC_TOKS} AS toks FROM documents),
    st AS (
      SELECT id, toks,
             CASE WHEN len(toks) <= 40 THEN [1]
                  ELSE range(1, len(toks) - 5 + 1, 35) END AS starts
      FROM t
    ),
    x AS (
      SELECT id, toks, unnest(starts) AS s,
             generate_subscripts(starts, 1) AS chunk_idx
      FROM st
    )
    SELECT id, chunk_idx,
           len(toks[s : s + 39]) AS chunk_n_tokens,
           md5(array_to_string(toks[s : s + 39], ' ')) AS chunk_fp
    FROM x
    """,
)
def text_chunking(spark, sf_dir):
    """Context-window chunking (40-token windows, 5-token overlap): one
    expression-only pass, every chunk fingerprinted — the pretraining
    packing prep step."""
    df = text.chunk_documents(
        _docs(spark, sf_dir), chunk_tokens=40, overlap=5
    )
    return df.select(
        "id", "chunk_idx", "chunk_n_tokens",
        F.md5(F.col("chunk_text")).alias("chunk_fp"),
    )


@q(
    "events_sessionization",
    """
    WITH e AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, ts,
             CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_idx
      FROM e
    )
    SELECT user_id, session_idx, count(*) AS n_events,
           epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
    FROM s GROUP BY 1, 2
    """,
)
def events_sessionization(spark, sf_dir):
    """Gap-based sessionization of the event log (30-min gap): per-user
    running break-sum via window functions, exact integer-microsecond
    durations — the batch counterpart of the streaming session windows."""
    ev = read_parquet_table(spark, f"{sf_dir}/events.parquet")
    from .operators import sessions

    return sessions.session_stats(ev, gap_seconds=1800)


_PII_TEXT = (
    "text || CASE WHEN doc_id % 3 = 0 "
    "THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END "
    "|| CASE WHEN doc_id % 5 = 0 THEN ' call 555 123-4567' ELSE '' END"
)


@q(
    "text_pii_redaction",
    f"""
    WITH aug AS (SELECT doc_id, {_PII_TEXT} AS t FROM documents)
    SELECT doc_id,
           len(regexp_extract_all(t, '{text.PII_PATTERNS["email"]}')) AS n_emails,
           len(regexp_extract_all(t, '{text.PII_PATTERNS["phone"]}')) AS n_phones,
           md5(regexp_replace(regexp_replace(t, '{text.PII_PATTERNS["email"]}', '<EMAIL>', 'g'),
                              '{text.PII_PATTERNS["phone"]}', '<PHONE>', 'g')) AS red_md5
    FROM aug
    """,
)
def text_pii_redaction(spark, sf_dir):
    """PII scrub (emails/phones → placeholder tokens) with per-doc match
    counts; deterministic synthetic PII is injected first since the corpus
    carries none (the md5 over the redacted text proves byte-identical
    scrubbing)."""
    aug = _docs(spark, sf_dir).withColumn(
        "t",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.lit(" contact user"), F.col("doc_id").cast("string"), F.lit("@example.com")),
            ).otherwise(""),
            F.when(F.col("doc_id") % 5 == 0, F.lit(" call 555 123-4567")).otherwise(""),
        ),
    ).select("doc_id", "t")
    out = text.redact_pii(aug, "t")
    return out.select("doc_id", "n_emails", "n_phones", F.md5("redacted").alias("red_md5"))


_FEAT_SQL = {
    "n_tokens": f"len({_DOC_TOKS})",
    "avg_token_len": (
        f"length(regexp_replace(text, '\\s', '', 'g')) * 1.0 / greatest(len({_DOC_TOKS}), 1)"
    ),
    "punct_ratio": (
        "length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) * 1.0 "
        "/ greatest(length(text), 1)"
    ),
    "stopword_ratio": (
        f"len(list_filter(list_transform({_DOC_TOKS}, t -> lower(t)), "
        f"t -> t IN ({_STOP['en']}))) * 1.0 / greatest(len({_DOC_TOKS}), 1)"
    ),
}
_R = text.QUALITY_RULES
_REASON_SQL = f"""CASE
    WHEN text IS NULL THEN 'null_text'
    WHEN {_FEAT_SQL['n_tokens']} < {_R['min_tokens']} THEN 'too_short'
    WHEN {_FEAT_SQL['n_tokens']} > {_R['max_tokens']} THEN 'too_long'
    WHEN {_FEAT_SQL['avg_token_len']} < {_R['min_avg_token_len']} THEN 'tokens_too_short'
    WHEN {_FEAT_SQL['avg_token_len']} > {_R['max_avg_token_len']} THEN 'tokens_too_long'
    WHEN {_FEAT_SQL['punct_ratio']} > {_R['max_punct_ratio']} THEN 'too_much_punct'
    WHEN {_FEAT_SQL['stopword_ratio']} < {_R['min_stopword_ratio']} THEN 'too_few_stopwords'
    ELSE NULL END"""


@q(
    "text_quality_filter",
    f"""
    SELECT coalesce({_REASON_SQL}, 'kept') AS drop_reason, count(*) AS n_docs
    FROM documents GROUP BY 1
    """,
)
def text_quality_filter(spark, sf_dir):
    """Gopher-style rule filter: first failing rule per document, counted —
    the keep/drop decision a pre-training corpus pass applies."""
    df = text.quality_filter(_docs(spark, sf_dir))
    return df.groupBy(
        F.coalesce(F.col("drop_reason"), F.lit("kept")).alias("drop_reason")
    ).agg(F.count("*").alias("n_docs"))


@q(
    "embed_dedup_keep_list",
    f"""
    WITH RECURSIVE en AS (
      SELECT vec_id, {_EMB_D} AS v FROM embeddings
      WHERE list_dot_product({_EMB_D}, {_EMB_D}) > 0
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM en a JOIN en b ON a.vec_id < b.vec_id
      WHERE list_dot_product(a.v, b.v)
              / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
            >= 0.45
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(node, target) AS (
      SELECT vec_id, vec_id FROM en
      UNION
      SELECT reach.node, edges.dst FROM reach JOIN edges ON edges.src = reach.target
    )
    SELECT node AS id, min(target) AS cluster,
           (node = min(target)) AS keep
    FROM reach GROUP BY 1
    """,
)
def embed_dedup_keep_list(spark, sf_dir):
    """Embedding-space dedup end to end: cosine near-dup pairs →
    connected components → canonical keep-list (the semantic-dedup pass a
    training pipeline runs after text-level dedup).  Exact pair scan here
    for the oracle; at corpus scale swap in lsh_candidate_pairs /
    ivf_index blocking for candidates with identical downstream plumbing."""
    emb = _emb(spark, sf_dir)
    pairs = similarity.cosine_pairs_threshold(emb, 0.45).select("id_a", "id_b")
    nonzero = emb.filter(
        similarity.dot(
            F.transform("embedding", lambda x: x.cast("double")),
            F.transform("embedding", lambda x: x.cast("double")),
        )
        > 0
    )
    ids = nonzero.select(F.col("vec_id").alias("id"))
    return dedup.dedup_clusters(ids, pairs)


@q(
    "text_token_counts",
    f"""
    SELECT doc_id,
           len({_DOC_TOKS}) AS n_tokens_ws,
           len(regexp_extract_all(text,
               '{text.BPE_SPLIT_PATTERN.replace("'", "''")}')) AS n_tokens_bpe
    FROM documents
    """,
)
def text_token_counts(spark, sf_dir):
    """Whitespace vs BPE-ish-regex token counts per document (training
    token budgeting; GPT-2-style pretokenizer piece count)."""
    df = text.with_token_counts(_docs(spark, sf_dir))
    return df.select("doc_id", "n_tokens_ws", "n_tokens_bpe")


@q(
    "multimodal_decode_features",
    """
    SELECT doc_id AS media_id,
           16 + ('0x' || substr(md5(text), 1, 2))::INT AS width,
           16 + ('0x' || substr(md5(text), 3, 2))::INT AS height,
           CAST(CAST((('0x' || substr(md5(text), 1, 2))::INT / 255.0) * 2.0 - 1.0
                AS REAL) AS DOUBLE) AS feat0
    FROM documents
    """,
)
def multimodal_decode_features(spark, sf_dir):
    """Multimodal decode plumbing against the driver gate: documents' text
    bytes stand in as opaque media payloads, the deterministic fake
    decoder (md5-digest-derived dims/features — the injected-codec seam,
    operators/multimodal.py) runs as mapInPandas, and the oracle
    recomputes the same digest math in DuckDB.  Proves the schema,
    Arrow batch shape, and distributed decode path end-to-end."""
    from .operators import multimodal

    docs = read_parquet_table(spark, f"{sf_dir}/documents.parquet")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
        F.create_map().cast("map<string,string>").alias("meta"),
    )
    decoded = multimodal.decode_media(media)
    return decoded.select(
        "media_id",
        "width",
        "height",
        F.element_at("features", 1).cast("double").alias("feat0"),
    )


# ------------------------------------------------- round-5 pipeline ops
@q(
    "pipeline_token_packing",
    f"""
    WITH t AS (
      SELECT source, doc_id, len({_DOC_TOKS}) AS tok FROM documents
    ),
    c AS (
      SELECT source, tok,
             sum(tok) OVER (PARTITION BY source ORDER BY doc_id) - tok AS off
      FROM t
    )
    SELECT source, CAST(floor(off / 512) AS BIGINT) AS pack_id,
           count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS total_tokens
    FROM c GROUP BY 1, 2
    """,
)
def pipeline_token_packing(spark, sf_dir):
    """Context-window packing: documents stream into fixed 512-token packs
    per source (running-sum assignment, operators/packing.py); per-pack
    doc count + token totals.  Window + aggregate only — one shuffle."""
    from .operators import packing

    return packing.pack_summary(_docs(spark, sf_dir), budget=512)


@q(
    "pipeline_quality_topk",
    f"""
    SELECT source, doc_id, CAST({_QUALITY_SQL} AS DOUBLE) AS quality_score
    FROM documents
    QUALIFY row_number()
      OVER (PARTITION BY source ORDER BY {_QUALITY_SQL} DESC, doc_id) <= 10
    """,
)
def pipeline_quality_topk(spark, sf_dir):
    """Quality-based curation: top-10 documents per source by the
    composite quality score (text.select_top_quality ranking window)."""
    return text.select_top_quality(_docs(spark, sf_dir), k=10).select(
        "source", "doc_id", "quality_score"
    )


@q(
    "pipeline_balanced_sample",
    """
    SELECT lang, doc_id FROM documents
    QUALIFY row_number()
      OVER (PARTITION BY lang ORDER BY md5(doc_id::VARCHAR), doc_id) <= 30
    """,
)
def pipeline_balanced_sample(spark, sf_dir):
    """Deterministic stratified downsampling: at most 30 docs per lang,
    chosen by content-hash order — stable across runs, partitionings, and
    engines (operators/packing.balanced_sample)."""
    from .operators import packing

    return packing.balanced_sample(_docs(spark, sf_dir), per_group=30).select(
        "lang", "doc_id"
    )


@q(
    "text_tfidf_top_terms",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DOC_TOKS}) AS term FROM documents
    ),
    s AS (
      SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df
      FROM toks WHERE term <> '' GROUP BY 1
    ),
    n AS (SELECT count(*) AS nn FROM documents)
    SELECT term, tf, df, round(tf * ln(nn * 1.0 / df), 6) AS weight
    FROM s, n ORDER BY weight DESC, term LIMIT 20
    """,
)
def text_tfidf_top_terms(spark, sf_dir):
    """Corpus TF-IDF: top-20 terms by tf·ln(N/df) (text.tfidf_top_terms
    — explode + combine-aggregated groupBy + broadcast corpus size +
    TakeOrdered; ln is the natural log on both engines)."""
    return text.tfidf_top_terms(_docs(spark, sf_dir), n=20)


@q(
    "embed_label_norm_stats",
    f"""
    WITH e AS (
      SELECT label,
             sqrt(list_dot_product({_EMB_D}, {_EMB_D})) AS nrm
      FROM embeddings
    )
    SELECT label, count(*) AS n_vectors,
           round(min(nrm), 6) AS min_norm,
           round(max(nrm), 6) AS max_norm,
           round(avg(nrm), 6) AS avg_norm
    FROM e GROUP BY 1
    """,
)
def embed_label_norm_stats(spark, sf_dir):
    """Per-label embedding L2-norm stats (similarity.label_norm_stats):
    the pre-indexing sanity pass — sequential double-precision fold,
    expression-only, one combine-aggregated shuffle on label."""
    return similarity.label_norm_stats(_emb(spark, sf_dir))


# ------------------------------------------------------- events analytics
def _events(spark, sf_dir):
    return read_parquet_table(spark, f"{sf_dir}/events.parquet")


@q(
    "events_asof_attribution",
    """
    WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
         c AS (SELECT * FROM events WHERE event_type = 'click')
    SELECT p.event_id, p.user_id, epoch_us(p.ts) AS purchase_us,
           epoch_us(c.ts) AS click_us, c.value AS click_value,
           epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
    FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def events_asof_attribution(spark, sf_dir):
    """Backward as-of join (events.asof_join): attribute each purchase to
    the user's most recent prior click — union + one per-user window
    carrying the last click forward; never a range-join pair blowup.
    Oracle is DuckDB's native ASOF LEFT JOIN."""
    from .operators import events as ev_ops
    from .operators.sessions import _is_ntz, _micros

    ev = _events(spark, sf_dir)
    ntz = _is_ntz(ev, "ts")
    purchases = ev.filter(F.col("event_type") == "purchase")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    joined = ev_ops.asof_join(
        purchases, clicks, key="user_id", value_cols=["value"],
        suffix="_click",
    )
    p_us = _micros(F.col("ts"), ntz)
    c_us = _micros(F.col("ts_click"), ntz)
    return joined.select(
        "event_id",
        "user_id",
        p_us.alias("purchase_us"),
        c_us.alias("click_us"),
        F.col("value_click").alias("click_value"),
        (p_us - c_us).alias("lag_us"),
    )


@q(
    "events_funnel_steps",
    """
    WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
                WHERE event_type = 'view' GROUP BY 1),
    s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
           JOIN s1 USING (user_id)
           WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1),
    s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
           JOIN s2 USING (user_id)
           WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1)
    SELECT 1 AS step_idx, 'view' AS step, count(*) AS n_users FROM s1
    UNION ALL SELECT 2, 'click', count(*) FROM s2
    UNION ALL SELECT 3, 'purchase', count(*) FROM s3
    """,
)
def events_funnel_steps(spark, sf_dir):
    """Ordered funnel view→click→purchase (events.funnel_counts):
    earliest-completion semantics, k filtered-aggregate passes whose user
    set shrinks monotonically — no per-user arrays, power-user safe."""
    from .operators import events as ev_ops

    return ev_ops.funnel_counts(
        _events(spark, sf_dir), ["view", "click", "purchase"]
    )


@q(
    "events_retention_weekly",
    """
    WITH act AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS p
      FROM events
    ),
    f AS (SELECT user_id, min(p) AS cohort FROM act GROUP BY 1)
    SELECT cohort, CAST(date_diff('day', cohort, p) / 7 AS BIGINT) AS offset,
           count(DISTINCT user_id) AS n_users
    FROM act JOIN f USING (user_id) GROUP BY 1, 2
    """,
)
def events_retention_weekly(spark, sf_dir):
    """Weekly retention cohort triangle (events.retention_cohorts):
    first-activity cohort per user, distinct active users per
    (cohort, offset) — two user-keyed grouped passes, AQE-coalesced."""
    from .operators import events as ev_ops

    return ev_ops.retention_cohorts(_events(spark, sf_dir), period="week")


# ------------------------------------------------- round-5 text/pipeline
@q(
    "text_segment_dedup",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w,
             generate_subscripts(string_split_regex(trim(text), '\\s+'), 1) AS pos
      FROM documents
    ),
    segs AS (
      SELECT doc_id, CAST(floor((pos - 1) / 8) AS INT) AS spos,
             string_agg(w, ' ' ORDER BY pos) AS seg
      FROM toks GROUP BY 1, 2
    ),
    flagged AS (
      SELECT doc_id, spos, seg,
             CASE WHEN row_number() OVER (PARTITION BY seg
                                          ORDER BY doc_id, spos) = 1
                  THEN 1 ELSE 0 END AS keep
      FROM segs
    )
    SELECT doc_id AS id, count(*) AS n_segments,
           CAST(sum(keep) AS BIGINT) AS n_kept,
           md5(coalesce(string_agg(CASE WHEN keep = 1 THEN seg END,
                                   ' ' ORDER BY spos), '')) AS clean_md5
    FROM flagged GROUP BY 1
    """,
)
def text_segment_dedup(spark, sf_dir):
    """C4-style segment-level dedup (text.segment_dedup, 8-token
    windows): repeated segments removed from all but the first (doc, pos)
    occurrence — one corpus-wide fingerprint window + one reassembly
    shuffle; clean text proven byte-identical via md5."""
    df = text.segment_dedup(_docs(spark, sf_dir), seg_tokens=8)
    return df.select(
        "id", "n_segments", "n_kept",
        F.md5(F.col("clean_text")).alias("clean_md5"),
    )


@q(
    "text_unigram_entropy",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
      FROM documents
    ),
    c AS (
      SELECT doc_id, w, count(*) AS c FROM toks WHERE w <> '' GROUP BY 1, 2
    ),
    d AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
             count(*) AS n_distinct,
             list(CAST(c AS DOUBLE) ORDER BY w) AS cl
      FROM c GROUP BY 1
    )
    SELECT doc_id AS id, n_tokens, n_distinct,
           round(ln(CAST(n_tokens AS DOUBLE))
                 - list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                            list_transform(cl, x -> x * ln(x))),
                               (a, b) -> a + b) / n_tokens,
                 6) AS entropy
    FROM d
    """,
)
def text_unigram_entropy(spark, sf_dir):
    """Per-doc unigram entropy (text.unigram_entropy): the cheap
    perplexity-style quality signal.  The Σ c·ln c term folds over counts
    sorted by word on BOTH engines, so the double result is bit-exact and
    layout-independent."""
    return text.unigram_entropy(_docs(spark, sf_dir))


_MIX_TARGETS = {"src0": 0.2, "src1": 0.2, "src2": 0.1, "src3": 0.5}


@q(
    "pipeline_mix_weights",
    """
    WITH c AS (SELECT source AS grp, count(*) AS n_docs
               FROM documents GROUP BY 1),
    t(grp, target_frac) AS (VALUES
      ('src0', CAST(0.2 AS DOUBLE)), ('src1', CAST(0.2 AS DOUBLE)),
      ('src2', CAST(0.1 AS DOUBLE)), ('src3', CAST(0.5 AS DOUBLE))),
    j AS (SELECT c.grp, c.n_docs, t.target_frac FROM c LEFT JOIN t USING (grp)),
    s0 AS (SELECT CAST(sum(n_docs) AS BIGINT) AS N FROM c),
    s AS (SELECT N,
                 min(CASE WHEN target_frac IS NOT NULL THEN
                       least(CAST(1.0 AS DOUBLE),
                             n_docs / N / target_frac)
                     END) AS sc
          FROM j, s0 GROUP BY N)
    SELECT grp AS source, n_docs,
           round(n_docs / N, 6) AS frac,
           round(coalesce(target_frac, 0.0), 6) AS target_frac,
           round(coalesce(target_frac * sc * N / n_docs, 0.0), 6)
             AS sample_prob,
           round(coalesce(target_frac * sc * N / n_docs, 0.0) * n_docs, 6)
             AS expected_docs
    FROM j, s
    """,
)
def pipeline_mix_weights(spark, sf_dir):
    """Domain-mixing sampling probabilities (sampling.mixing_weights):
    reshape the source mix to target fractions keeping maximal data — the
    scarcest-group scale factor, pure aggregate arithmetic over the
    per-source counts."""
    from .operators import sampling

    return sampling.mixing_weights(
        _docs(spark, sf_dir), _MIX_TARGETS, by="source"
    )


def _lsh_oracle_sql(planes: int = 24, bands: int = 4, threshold: float = 0.3) -> str:
    """DuckDB mirror of similarity.lsh_candidate_pairs + cosine verify:
    the hyperplane components come from the SAME Python generator the
    Spark plan inlines, so both engines bucket identically by
    construction."""
    from .operators.similarity import _hyperplane

    width = planes // bands
    mask = (1 << width) - 1
    bit_terms = []
    for p in range(planes):
        comps = ", ".join(repr(c) for c in _hyperplane(64, p))
        bit_terms.append(
            f"(CASE WHEN list_dot_product(v, [{comps}]) > 0 "
            f"THEN ({1 << p})::BIGINT ELSE 0::BIGINT END)"
        )
    bucket = " + ".join(bit_terms)
    band_match = " OR ".join(
        f"((a.bucket >> {ci * width}) & {mask}) = ((b.bucket >> {ci * width}) & {mask})"
        for ci in range(bands)
    )
    return f"""
    WITH e AS (SELECT vec_id, {_EMB_D} AS v FROM embeddings),
    sig AS (SELECT vec_id AS id, v, {bucket} AS bucket FROM e),
    cand AS (
      SELECT a.id AS id_a, b.id AS id_b,
             list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v))
                  * sqrt(list_dot_product(b.v, b.v))) AS cos
      FROM sig a JOIN sig b ON a.id < b.id AND ({band_match})
    )
    SELECT id_a, id_b, round(cos, 6) AS cosine
    FROM cand WHERE cos >= {threshold}
    """


@q("embed_lsh_neardup_pairs", _lsh_oracle_sql())
def embed_lsh_neardup_pairs(spark, sf_dir):
    """Hyperplane-LSH near-dup path end-to-end: banded sign-pattern
    candidates (similarity.lsh_candidate_pairs — bucket equi-join, never
    O(n²)) verified by exact cosine ≥ 0.3.  The oracle replays the same
    hyperplanes via a brute-force band-match join, so this checks BOTH
    bucketing and verification bit-for-bit."""
    emb = _emb(spark, sf_dir)
    cand = similarity.lsh_candidate_pairs(emb, dim=64, planes=24, bands=4)
    e = emb.select(F.col("vec_id"), F.col("embedding"))
    joined = (
        cand.join(
            e.withColumnRenamed("vec_id", "id_a").withColumnRenamed(
                "embedding", "__va"
            ),
            "id_a",
        )
        .join(
            e.withColumnRenamed("vec_id", "id_b").withColumnRenamed(
                "embedding", "__vb"
            ),
            "id_b",
        )
    )
    out = similarity.with_cosine(joined, "__va", "__vb")
    return (
        out.filter(F.col("cosine") >= 0.3)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )


@q(
    "text_inverted_index",
    """
    WITH pairs AS (
      SELECT DISTINCT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
      FROM documents
    )
    SELECT term, count(*) AS df,
           md5(string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id)) AS postings_md5
    FROM pairs WHERE term <> '' GROUP BY term HAVING count(*) >= 5
    """,
)
def text_inverted_index(spark, sf_dir):
    """Inverted index (text.inverted_index, min_df=5): term-keyed posting
    lists, sorted and fingerprinted — byte-identical postings proven via
    md5 of the comma-joined list."""
    idx = text.inverted_index(_docs(spark, sf_dir), min_df=5)
    return idx.select(
        "term",
        "df",
        F.md5(
            F.concat_ws(",", F.transform("postings", lambda x: x.cast("string")))
        ).alias("postings_md5"),
    )


@q(
    "pipeline_pack_concat",
    """
    WITH t AS (
      SELECT source, doc_id, text,
             len(string_split_regex(trim(text), '\\s+')) AS n_tokens
      FROM documents
    ),
    packed AS (
      SELECT source, doc_id, text, n_tokens,
             CAST(floor((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) - n_tokens) / 512.0)
                  AS BIGINT) AS pack_id
      FROM t
    )
    SELECT source, pack_id, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           md5(string_agg(text, '<|eos|>' ORDER BY doc_id)) AS pack_md5
    FROM packed GROUP BY 1, 2
    """,
)
def pipeline_pack_concat(spark, sf_dir):
    """Pack materialization: documents concatenated per (source, pack)
    with EOS separators in deterministic order — the byte stream a
    trainer's sampler would read, proven byte-identical via md5.  Built
    on operators/packing.pack_documents (one keyed shuffle + window, one
    grouped reassembly)."""
    from .operators import packing

    packed = packing.pack_documents(_docs(spark, sf_dir), budget=512)
    return packed.groupBy("source", "pack_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.md5(
            F.concat_ws(
                "<|eos|>",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("doc_id"), F.col("text")))
                    ),
                    lambda s: s["text"],
                ),
            )
        ).alias("pack_md5"),
    )


@q(
    "pipeline_mix_applied",
    """
    WITH c AS (SELECT source AS grp, count(*) AS n_docs
               FROM documents GROUP BY 1),
    t(grp, target_frac) AS (VALUES
      ('src0', CAST(0.2 AS DOUBLE)), ('src1', CAST(0.2 AS DOUBLE)),
      ('src2', CAST(0.1 AS DOUBLE)), ('src3', CAST(0.5 AS DOUBLE))),
    j AS (SELECT c.grp, c.n_docs, t.target_frac FROM c LEFT JOIN t USING (grp)),
    s0 AS (SELECT CAST(sum(n_docs) AS BIGINT) AS N FROM c),
    s AS (SELECT N,
                 min(CASE WHEN target_frac IS NOT NULL THEN
                       least(CAST(1.0 AS DOUBLE),
                             n_docs / N / target_frac)
                     END) AS sc
          FROM j, s0 GROUP BY N),
    p AS (SELECT grp AS source,
                 round(coalesce(target_frac * sc * N / n_docs, 0.0), 6)
                   AS prob
          FROM j, s),
    kept AS (
      SELECT d.source, d.doc_id
      FROM documents d JOIN p USING (source)
      WHERE (('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
             % 10000) < CAST(floor(prob * 10000 + 0.5) AS BIGINT)
    )
    SELECT source, count(*) AS n_kept,
           md5(string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id)) AS kept_md5
    FROM kept GROUP BY 1
    """,
)
def pipeline_mix_applied(spark, sf_dir):
    """Domain mix APPLIED (sampling.apply_mixing): the deterministic
    per-group Bernoulli thinning materialized — per source, the kept count
    and an md5 over the kept doc-id set proves the exact same rows survive
    on both engines (broadcast per-group probabilities, content-hash
    threshold, no shuffle beyond the weight aggregation)."""
    from .operators import sampling

    kept = sampling.apply_mixing(
        _docs(spark, sf_dir), _MIX_TARGETS, by="source"
    )
    return kept.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
            )
        ).alias("kept_md5"),
    )


# ------------------------------------------- semi-structured + diagnostics
@q(
    "events_props_json_stats",
    """
    SELECT event_type,
           count(*) AS n_events,
           min(json_extract(props, '$.k')::INT) AS min_k,
           max(json_extract(props, '$.k')::INT) AS max_k,
           CAST(sum(json_extract(props, '$.k')::INT) AS BIGINT) AS sum_k,
           round(avg(json_extract(props, '$.k')::INT), 6) AS avg_k
    FROM events GROUP BY 1
    """,
)
def events_props_json_stats(spark, sf_dir):
    """Semi-structured extraction (events.parse_props): typed fields out
    of the JSON ``props`` column via ``from_json`` with an EXPLICIT schema
    (codegen row-level parse; never a driver-side schema-inference job),
    then a plain keyed aggregate.  Malformed JSON → NULL fields, so the
    scan cannot fail on one bad event."""
    from .operators import events as ev_ops

    ev = read_parquet_table(spark, f"{sf_dir}/events.parquet")
    parsed = ev_ops.parse_props(ev, {"k": "int"})
    return parsed.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        F.sum("k").alias("sum_k"),
        F.round(F.avg("k"), 6).alias("avg_k"),
    )


@q(
    "embed_quantization_report",
    """
    WITH e AS (
      SELECT label, embedding::DOUBLE[] AS v,
             list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127
               AS scale
      FROM embeddings
    ), d AS (
      SELECT label, v, scale,
             CASE WHEN scale = 0 THEN list_transform(v, x -> 0.0)
                  ELSE list_transform(v, x -> floor(x / scale + 0.5) * scale)
             END AS dq
      FROM e
    ), m AS (
      SELECT label,
             CASE WHEN scale = 0 THEN 0.0
                  ELSE list_max(list_transform(
                         v, x -> abs(x - floor(x / scale + 0.5) * scale)))
             END AS max_err,
             CASE WHEN scale = 0 THEN NULL
                  ELSE list_dot_product(v, dq)
                       / (sqrt(list_dot_product(v, v))
                          * sqrt(list_dot_product(dq, dq)))
             END AS cos
      FROM d
    )
    SELECT label, count(*) AS n_vectors,
           round(avg(max_err), 6) AS avg_max_err,
           round(max(max_err), 6) AS worst_max_err,
           round(avg(cos), 6) AS avg_cosine
    FROM m GROUP BY 1
    """,
)
def embed_quantization_report(spark, sf_dir):
    """Int8 quantization go/no-go report (similarity.quantization_error_
    stats): per label, reconstruction max-abs-error stats and mean
    original-vs-dequantized cosine.  Quantization is floor(x/scale + 0.5)
    — half-up via floor, the cross-engine-stable rounding — with
    scale = max|x|/127 per vector; the whole report is one expression-only
    scan + one keyed aggregate (the 4x ANN memory cut validated without
    materializing a quantized copy)."""
    from .operators import similarity as sim

    return sim.quantization_error_stats(_emb(spark, sf_dir))


@q(
    "pipeline_skew_profile",
    """
    WITH cl AS (SELECT lang::VARCHAR AS k, count(*) AS c
                FROM documents GROUP BY 1),
    cs AS (SELECT source::VARCHAR AS k, count(*) AS c
           FROM documents GROUP BY 1),
    tl AS (SELECT coalesce(string_agg(k || ':' || c, ',' ORDER BY c DESC, k),
                           '') AS top_keys
           FROM (SELECT k, c FROM cl WHERE c >= 2
                 ORDER BY c DESC, k LIMIT 3)),
    ts AS (SELECT coalesce(string_agg(k || ':' || c, ',' ORDER BY c DESC, k),
                           '') AS top_keys
           FROM (SELECT k, c FROM cs WHERE c >= 2
                 ORDER BY c DESC, k LIMIT 3))
    SELECT 'lang' AS "column", CAST(sum(c) AS BIGINT) AS n_rows,
           count(*) AS n_keys, CAST(max(c) AS BIGINT) AS max_count,
           round(max(c) / (sum(c) * 1.0 / count(*)), 6) AS skew_ratio,
           (SELECT top_keys FROM tl) AS top_keys
    FROM cl
    UNION ALL
    SELECT 'source', CAST(sum(c) AS BIGINT), count(*),
           CAST(max(c) AS BIGINT),
           round(max(c) / (sum(c) * 1.0 / count(*)), 6),
           (SELECT top_keys FROM ts)
    FROM cs
    """,
)
def pipeline_skew_profile(spark, sf_dir):
    """Pre-shuffle key-skew diagnostic (util.key_skew_profile): per
    candidate key column, cardinality, heaviest-key share, and the top
    heavy keys — the salting / AQE-skew-join decision input.  The ranking
    window's input is bounded by min_count (a never-repeating key cannot
    be skewed), so the profile itself is safe on 100 TB keys."""
    from .operators.util import key_skew_profile

    return key_skew_profile(
        _docs(spark, sf_dir), ["lang", "source"], top=3, min_count=2
    )


_CURATE_SPLITS = {"train": 0.9, "val": 0.05, "test": 0.05}

@q(
    "pipeline_end_to_end_curation",
    f"""
    WITH keep AS (
      SELECT md5(lower(trim(text))) AS f, min(doc_id) AS keep_id,
             count(*) AS dup_count
      FROM documents GROUP BY 1
    ),
    surv AS (
      SELECT d.*, k.dup_count
      FROM documents d
      JOIN keep k ON md5(lower(trim(d.text))) = k.f AND d.doc_id = k.keep_id
    ),
    kept AS (
      SELECT doc_id, dup_count, CAST({_QUALITY_SQL} AS DOUBLE) AS q,
             {{split_case}} AS split
      FROM surv WHERE ({_REASON_SQL}) IS NULL
    )
    SELECT split, count(*) AS n_docs,
           CAST(sum(dup_count) AS BIGINT) AS n_dups_absorbed,
           round(avg(q), 6) AS avg_quality,
           md5(string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id)) AS kept_md5
    FROM kept GROUP BY 1
    """.replace("{split_case}", _split_case_sql(_CURATE_SPLITS)),
)
def pipeline_end_to_end_curation(spark, sf_dir):
    """The COMPOSED curation pass (operators.pipeline.curate_corpus):
    exact dedup → Gopher quality rules → deterministic hash splits, one
    DataFrame plan.  Per split: doc count, absorbed-duplicate count, mean
    quality, and an md5 over the kept doc-id set — the oracle replays the
    identical composition, so an exact survivor-set match proves the
    stages chain deterministically end to end."""
    from .operators.pipeline import curate_corpus

    out = curate_corpus(_docs(spark, sf_dir), split_weights=_CURATE_SPLITS)
    return out.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.sum("dup_count").alias("n_dups_absorbed"),
        F.round(F.avg("quality_score"), 6).cast("double").alias("avg_quality"),
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
            )
        ).alias("kept_md5"),
    )


@q(
    "text_bigram_entropy",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w,
             generate_subscripts(string_split_regex(trim(text), '\\s+'), 1)
               AS pos
      FROM documents
    ),
    bg AS (
      SELECT a.doc_id, a.w || ' ' || b.w AS g
      FROM toks a JOIN toks b
        ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    ),
    c AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
    d AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
             count(*) AS n_distinct_bigrams,
             list(CAST(c AS DOUBLE) ORDER BY g) AS cl
      FROM c GROUP BY 1
    )
    SELECT doc_id AS id, n_bigrams, n_distinct_bigrams,
           round(ln(CAST(n_bigrams AS DOUBLE))
                 - list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                            list_transform(cl, x -> x * ln(x))),
                               (a, b) -> a + b) / n_bigrams,
                 6) AS bigram_entropy
    FROM d
    """,
)
def text_bigram_entropy(spark, sf_dir):
    """Per-doc bigram entropy (text.bigram_entropy): the repeated-phrase
    detector unigram entropy misses — same deterministic sorted-fold, so
    the double result is bit-exact on both engines."""
    return text.bigram_entropy(_docs(spark, sf_dir))


@q(
    "text_kl_from_corpus",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
      FROM documents
    ),
    c AS (
      SELECT doc_id, w, count(*) AS c FROM toks WHERE w <> '' GROUP BY 1, 2
    ),
    corpus AS (SELECT w, CAST(sum(c) AS BIGINT) AS cw FROM c GROUP BY 1),
    tot AS (SELECT CAST(sum(cw) AS BIGINT) AS N FROM corpus),
    j AS (
      SELECT c.doc_id, c.w, c.c, corpus.cw, tot.N
      FROM c JOIN corpus USING (w) CROSS JOIN tot
    ),
    d AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, any_value(N) AS N,
             list(struct_pack(c := CAST(c AS DOUBLE),
                              cw := CAST(cw AS DOUBLE)) ORDER BY w) AS cl
      FROM j GROUP BY 1
    )
    SELECT doc_id AS id, n_tokens,
           round(list_reduce(
                   list_prepend(CAST(0.0 AS DOUBLE),
                     list_transform(cl, s ->
                       s.c * ln((s.c * CAST(N AS DOUBLE))
                                / (CAST(n_tokens AS DOUBLE) * s.cw)))),
                   (a, b) -> a + b)
                 / CAST(n_tokens AS DOUBLE), 6) AS kl
    FROM d
    """,
)
def text_kl_from_corpus(spark, sf_dir):
    """Per-doc KL divergence from the corpus unigram distribution
    (text.kl_from_corpus): distribution-shift / boilerplate signal.
    Terms fold sorted by word on both engines — bit-exact doubles."""
    return text.kl_from_corpus(_docs(spark, sf_dir))


@q(
    "dedup_source_overlap",
    f"""
    WITH {_SHINGLES_SQL},
    ss AS (
      SELECT DISTINCT d.source, sh.shingle
      FROM sh JOIN documents d ON d.doc_id = sh.id
    ),
    gsizes AS (SELECT source, count(*) AS c FROM ss GROUP BY 1),
    p AS (
      SELECT a.source AS source_a, b.source AS source_b,
             count(*) AS shared
      FROM ss a JOIN ss b
        ON a.shingle = b.shingle AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT source_a, source_b, CAST(shared AS BIGINT) AS shared_shingles,
           CAST(sa.c AS BIGINT) AS n_a, CAST(sb.c AS BIGINT) AS n_b,
           round(shared * 1.0 / (sa.c + sb.c - shared), 6) AS jaccard
    FROM p
    JOIN gsizes sa ON sa.source = source_a
    JOIN gsizes sb ON sb.source = source_b
    """,
)
def dedup_source_overlap(spark, sf_dir):
    """Cross-source shingle-overlap matrix (dedup.source_overlap): which
    sources mirror each other — the dataset-level duplication map run
    before per-doc dedup.  Group-keyed distinct shingles + a self-join
    whose fan-out is bounded by the (bounded) group count."""
    return dedup.source_overlap(_docs(spark, sf_dir))


@q(
    "streaming_sessionization_gate",
    """
    WITH e AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, ts,
             CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_idx
      FROM e
    )
    SELECT user_id, session_idx, count(*) AS n_events,
           epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
    FROM s GROUP BY 1, 2
    """,
)
def streaming_sessionization_gate(spark, sf_dir):
    """STREAMING sessionization through Spark's native ``session_window``,
    hash-compared against the BATCH gap-sessionization oracle: on a
    bounded stream the merged session windows are exactly the batch
    gap-islands, so (n_events, duration) per session must match
    bit-for-bit.  Update output mode — a single availableNow batch emits
    every final session without needing the append-mode watermark to
    advance past the data.  The only streaming entry in the driver gate:
    proves the §2.9 surface against the same DuckDB oracle as batch."""
    import tempfile

    from .operators.sessions import _is_ntz, _micros

    ev = read_parquet_table(spark, f"{sf_dir}/events.parquet").select(
        "user_id", "ts", "event_id"
    )
    # watermarks require TIMESTAMP; the corpus carries TIMESTAMP_NTZ
    # (nanos handling).  Convert via wall-clock micros + timestamp_micros —
    # the as-if-UTC instant, timezone- and DST-independent, so gaps and
    # durations are identical to the NTZ wall-clock math the oracle uses
    if _is_ntz(ev, "ts"):
        ev = ev.withColumn(
            "ts", F.timestamp_micros(_micros(F.col("ts"), True))
        )
    work = tempfile.mkdtemp(prefix="stream_sess_")
    staging = f"{work}/staging"
    # sentinel event far past every real session: session windows support
    # only APPEND output, which emits a session once its END passes the
    # watermark — the sentinel pushes the final no-data batch's watermark
    # beyond every real session end (its own session never flushes, and
    # it is filtered out below)
    sentinel = ev.agg(
        F.lit(-1).cast("long").alias("user_id"),
        (F.max("ts") + F.expr("INTERVAL 10 DAYS")).alias("ts"),
        F.lit(-1).cast("long").alias("event_id"),
    )
    ev.unionByName(sentinel).write.mode("overwrite").parquet(staging)
    stream = spark.readStream.schema(ev.schema).parquet(staging)
    agg = (
        stream.withWatermark("ts", "0 seconds")
        .groupBy(
            F.session_window(F.col("ts"), "30 minutes").alias("__w"),
            "user_id",
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("__w.start").alias("__start"),
            F.col("__w.end").alias("__end"),
            "n_events",
        )
    )
    name = "stream_sess_gate"
    spark.catalog.dropTempView(name)
    q_ = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q_.awaitTermination(300)
    from pyspark.sql import Window

    out = spark.table(name).filter(F.col("user_id") >= 0)
    w = Window.partitionBy("user_id").orderBy("__start")
    return (
        out.withColumn("session_idx", F.row_number().over(w).cast("long"))
        .select(
            "user_id",
            "session_idx",
            "n_events",
            # session_window end = last event + gap → duration = end-start-gap
            (
                F.unix_micros("__end")
                - F.unix_micros("__start")
                - F.lit(1800 * 1_000_000)
            ).alias("duration_us"),
        )
    )


@q(
    "streaming_windowed_counts_gate",
    """
    SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
           event_type,
           count(*) AS n_events,
           round(sum(value), 6) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def streaming_windowed_counts_gate(spark, sf_dir):
    """STREAMING tumbling-window aggregation hash-compared against the
    batch GROUP-BY-hour oracle: 1-hour windows over a bounded stream in
    COMPLETE output mode (windowed aggregates support it — every window
    emits, no watermark choreography needed).  Window starts surface as
    epoch microseconds, timezone-free on both engines."""
    import tempfile

    from .operators.sessions import _is_ntz, _micros

    ev = read_parquet_table(spark, f"{sf_dir}/events.parquet").select(
        "ts", "event_type", "value"
    )
    if _is_ntz(ev, "ts"):
        ev = ev.withColumn("ts", F.timestamp_micros(_micros(F.col("ts"), True)))
    work = tempfile.mkdtemp(prefix="stream_win_")
    staging = f"{work}/staging"
    ev.write.mode("overwrite").parquet(staging)
    stream = spark.readStream.schema(ev.schema).parquet(staging)
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("__w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )
    name = "stream_win_gate"
    spark.catalog.dropTempView(name)
    q_ = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q_.awaitTermination(300)
    return spark.table(name).select(
        F.unix_micros(F.col("__w.start")).alias("window_start_us"),
        "event_type",
        "n_events",
        "sum_value",
    )


@q(
    "text_bpe_pair_counts",
    f"""
    WITH toks AS (
      SELECT unnest(regexp_extract_all(text,
                 '{text.BPE_SPLIT_PATTERN.replace("'", "''")}')) AS t
      FROM documents
    ),
    pairs AS (
      SELECT unnest(list_transform(range(1, length(t)),
                                   i -> substr(t, i, 2))) AS pair
      FROM toks WHERE length(t) >= 2
    ),
    agg AS (SELECT pair, count(*) AS n_pairs FROM pairs GROUP BY 1)
    SELECT pair, n_pairs, rank FROM (
      SELECT pair, n_pairs,
             row_number() OVER (ORDER BY n_pairs DESC, pair) AS rank
      FROM agg
    ) WHERE rank <= 200
    """,
)
def text_bpe_pair_counts(spark, sf_dir):
    """One BPE merge round's pair statistics (Sennrich et al. 2016): the
    adjacent-character-pair counts over GPT-2-style pre-tokens whose
    argmax is the next merge a BPE trainer learns.  Map-side combine
    collapses the pair explosion before the shuffle; the top-200 ranking
    window runs over the ~alphabet²-sized aggregate."""
    return text.bpe_pair_counts(_docs(spark, sf_dir), top_n=200)


@q(
    "pipeline_length_histogram",
    f"""
    WITH t AS (
      SELECT len(string_split_regex(trim(coalesce(text, '')), '\\s+')) AS n
      FROM documents
    )
    SELECT CAST(1 << (length(bin(greatest(n, 1))) - 1) AS BIGINT) AS bucket_lo,
           count(*) AS n_docs,
           CAST(sum(n) AS BIGINT) AS total_tokens,
           CAST(min(n) AS BIGINT) AS min_tokens,
           CAST(max(n) AS BIGINT) AS max_tokens
    FROM t GROUP BY 1
    """,
)
def pipeline_length_histogram(spark, sf_dir):
    """Power-of-two sequence-length histogram (packing/context-window
    sizing diagnostic).  Exact integer bucketing via bit-length — no
    float log2, so both engines bucket identically at exact powers of
    two."""
    return text.token_length_histogram(_docs(spark, sf_dir))


@q(
    "text_top_ngrams",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DOC_TOKS}) AS w,
             generate_subscripts({_DOC_TOKS}, 1) AS pos
      FROM documents
    ),
    ng AS (
      SELECT a.doc_id AS id, a.w || ' ' || b.w || ' ' || c.w AS ngram
      FROM toks a
      JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      JOIN toks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
    ),
    agg AS (
      SELECT ngram, count(*) AS occurrences, count(DISTINCT id) AS n_docs
      FROM ng GROUP BY 1
    )
    SELECT ngram, occurrences, n_docs, rank FROM (
      SELECT ngram, occurrences, n_docs,
             row_number() OVER (ORDER BY occurrences DESC, ngram) AS rank
      FROM agg
    ) WHERE rank <= 50
    """,
)
def text_top_ngrams(spark, sf_dir):
    """Corpus-wide most frequent word 3-grams with document frequency —
    the boilerplate/template detector (navigation chrome, license
    headers) run before tuning dedup.  ALL occurrences, not the dedup
    path's per-doc-distinct shingles; deterministic rank tiebreak."""
    return text.top_ngrams(_docs(spark, sf_dir), n=3, top_k=50)


@q(
    "streaming_dedup_gate",
    """
    SELECT md5(lower(trim(text))) AS fingerprint,
           CAST(1 AS BIGINT) AS n_kept
    FROM documents GROUP BY 1
    """,
)
def streaming_dedup_gate(spark, sf_dir):
    """STREAMING exact dedup hash-compared against the batch fingerprint
    oracle: documents flow through ``streaming_exact_dedup`` (global
    ``dropDuplicates`` — the bounded-backfill variant) on a bounded
    stream, and the surviving rows must cover each distinct fingerprint
    EXACTLY once: no fingerprint missing, none emitted twice.  Which
    physical row survives a duplicate group is engine-scheduling
    dependent, so the gate pins the deterministic invariant (the
    fingerprint set + per-fingerprint survivor count), not the arbitrary
    survivor ids.  Third §2.9 entry in the driver gate."""
    import tempfile

    from .streaming.dedup import streaming_exact_dedup

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    work = tempfile.mkdtemp(prefix="stream_dedup_")
    staging = f"{work}/staging"
    docs.write.mode("overwrite").parquet(staging)
    stream = spark.readStream.schema(docs.schema).parquet(staging)
    deduped = streaming_exact_dedup(stream)
    name = "stream_dedup_gate"
    spark.catalog.dropTempView(name)
    q_ = (
        deduped.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q_.awaitTermination(300)
    return (
        spark.table(name)
        .select(F.md5(F.lower(F.trim(F.col("text")))).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count("*").alias("n_kept"))
    )


@q(
    "pipeline_decontamination_report",
    f"""
    WITH toks AS (
      SELECT doc_id, {_DOC_TOKS} AS t FROM documents
    ),
    sh AS (
      SELECT doc_id, ('0x' || substr(md5(g), 1, 15))::BIGINT AS g FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t) - 11),
                                     i -> array_to_string(t[i:i+12], ' '))) AS g
        FROM toks WHERE len(t) >= 13
      )
    ),
    corpus_set AS (SELECT DISTINCT g FROM sh WHERE doc_id % 10 <> 0),
    eval_sh AS (SELECT DISTINCT doc_id, g FROM sh WHERE doc_id % 10 = 0),
    per AS (
      SELECT e.doc_id,
             CAST(count(*) AS BIGINT) AS n_grams,
             CAST(sum(CASE WHEN c.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hit
      FROM eval_sh e LEFT JOIN corpus_set c ON e.g = c.g
      GROUP BY 1
    )
    SELECT d.doc_id,
           coalesce(per.n_grams, 0) AS n_grams,
           coalesce(per.n_hit, 0) AS n_hit,
           CASE WHEN coalesce(per.n_grams, 0) > 0
                THEN round(per.n_hit * 1.0 / per.n_grams, 6) END
             AS hit_fraction
    FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
    LEFT JOIN per ON d.doc_id = per.doc_id
    """,
)
def pipeline_decontamination_report(spark, sf_dir):
    """GPT-3-style 13-gram decontamination report: every 10th document
    plays the held-out benchmark, the rest the training corpus; per
    eval doc, the fraction of its distinct 13-grams found anywhere in
    the corpus.  Corpus side collapses to its distinct n-gram set before
    the join (df=1 per n-gram — no stop-shingle guard needed)."""
    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    heldout = docs.filter(F.col("doc_id") % 10 == 0)
    return dedup.decontamination_report(corpus, heldout, n=13)


@q(
    "pipeline_temperature_mix",
    """
    WITH c AS (
      SELECT source AS grp, CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY 1
    ),
    d AS (
      SELECT list(struct_pack(grp := grp, n_docs := n_docs)
                  ORDER BY grp) AS gs,
             CAST(sum(n_docs) AS BIGINT) AS N
      FROM c
    ),
    e AS (
      SELECT gs, N,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(gs, s -> pow(s.n_docs * 1.0 / N, 0.7))),
               (a, b) -> a + b) AS sum_p
      FROM d
    )
    SELECT s.grp AS source, s.n_docs AS n_docs,
           round(s.n_docs * 1.0 / N, 6) AS frac,
           round(pow(s.n_docs * 1.0 / N, 0.7) / sum_p, 6) AS target_frac
    FROM (SELECT unnest(gs) AS s, N, sum_p FROM e)
    """,
)
def pipeline_temperature_mix(spark, sf_dir):
    """Temperature-scaled domain targets (Conneau & Lample 2019 / mC4
    alpha convention): t_i ∝ (c_i/N)^0.7 — boosts rare domains toward
    uniform without flattening the mix.  The frac^alpha normalizer
    folds over domains sorted by group on both engines."""
    from .operators import sampling

    return sampling.temperature_targets(_docs(spark, sf_dir), alpha=0.7)


@q(
    "pipeline_corpus_diff",
    """
    WITH o AS (
      SELECT doc_id, md5(lower(trim(text))) AS f FROM documents
    ),
    nv AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN text || ' edited' ELSE text END
               AS text
      FROM documents WHERE doc_id % 10 <> 3
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text
      FROM documents WHERE doc_id % 13 = 0
    ),
    n AS (SELECT doc_id, md5(lower(trim(text))) AS f FROM nv)
    SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
           o.f AS old_fingerprint,
           n.f AS new_fingerprint,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                WHEN o.f IS DISTINCT FROM n.f THEN 'changed'
                ELSE 'unchanged' END AS status
    FROM o FULL JOIN n ON o.doc_id = n.doc_id
    """,
)
def pipeline_corpus_diff(spark, sf_dir):
    """Re-ingest audit (pipeline.corpus_diff): the synthetic v2 drops
    every 10th doc, appends ' edited' to every 7th (content change —
    the fingerprint normalization would mask a pure case change), and
    adds shifted-id copies of every 13th; every id must classify as
    added/removed/changed/unchanged identically on both engines."""
    from .operators import pipeline as pl

    docs = _docs(spark, sf_dir)
    new = docs.filter(F.col("doc_id") % 10 != 3).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" edited"))
        ).otherwise(F.col("text")),
    )
    added = docs.filter(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    new = new.select("doc_id", "text").unionByName(added)
    return pl.corpus_diff(docs, new)


@q(
    "events_asof_forward_tolerance",
    """
    WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
         p AS (SELECT * FROM events WHERE event_type = 'purchase')
    SELECT c.event_id, c.user_id, epoch_us(c.ts) AS click_us,
           CASE WHEN p.ts <= c.ts + INTERVAL 2 HOUR
                THEN epoch_us(p.ts) END AS purchase_us,
           CASE WHEN p.ts <= c.ts + INTERVAL 2 HOUR
                THEN p.value END AS purchase_value,
           CASE WHEN p.ts <= c.ts + INTERVAL 2 HOUR
                THEN epoch_us(p.ts) - epoch_us(c.ts) END AS gap_us
    FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts <= p.ts
    """,
)
def events_asof_forward_tolerance(spark, sf_dir):
    """FORWARD as-of join with a match horizon (pandas merge_asof
    parity): each click looks AHEAD to the user's next purchase, and a
    purchase more than 2 hours out reads as no conversion — the
    click-to-conversion attribution window.  Same union+window plan as
    backward (ordered descending), horizon applied as a projection;
    oracle is DuckDB's native ASOF with the inequality flipped plus a
    CASE horizon."""
    from .operators import events as ev_ops
    from .operators.sessions import _is_ntz, _micros

    ev = _events(spark, sf_dir)
    ntz = _is_ntz(ev, "ts")
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    joined = ev_ops.asof_join(
        clicks, purchases, key="user_id", value_cols=["value"],
        suffix="_p", direction="forward", tolerance="INTERVAL 2 HOURS",
    )
    c_us = _micros(F.col("ts"), ntz)
    p_us = _micros(F.col("ts_p"), ntz)
    return joined.select(
        "event_id",
        "user_id",
        c_us.alias("click_us"),
        p_us.alias("purchase_us"),
        F.col("value_p").alias("purchase_value"),
        (p_us - c_us).alias("gap_us"),
    )


@q(
    "streaming_maintenance_gate",
    """
    SELECT r_name AS region_name, n_name AS nation_name,
           sum(l_quantity) AS sum_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
    GROUP BY 1, 2
    """,
)
def streaming_maintenance_gate(spark, sf_dir):
    """STREAMING summary maintenance hash-compared against the batch star
    aggregate: lineitem arrives in two micro-batch waves (orderkey
    parity), each maintained into a nation-grain summary through the
    cube's own star planner, and the FINAL summary must equal the batch
    GROUP BY over the whole fact bit-for-bit (quantities are
    integer-valued doubles — merge order cannot perturb the sums).
    Fourth §2.9 driver-gate entry: proves the delta-merge loop, not just
    single-pass streaming aggregation."""
    import tempfile

    from .star import engine_from_parquet
    from .streaming.maintenance import maintain_aggregate, read_summary
    from .tpch import SCHEMA

    eng = engine_from_parquet(spark, SCHEMA, "Sales", sf_dir)
    fact = read_parquet_table(spark, f"{sf_dir}/lineitem.parquet")
    work = tempfile.mkdtemp(prefix="stream_maint_")
    src, summary, ckpt = f"{work}/src", f"{work}/summary", f"{work}/ckpt"
    half1 = fact.filter(F.col("l_orderkey") % 2 == 0)
    half2 = fact.filter(F.col("l_orderkey") % 2 == 1)
    half1.write.parquet(src, mode="overwrite")
    q1 = maintain_aggregate(
        eng, spark.readStream.schema(fact.schema).parquet(src),
        ["[Customer].[Nation]"], ["Sum Qty"], summary, ckpt,
        register=False,
    )
    q1.awaitTermination(300)
    half2.write.parquet(src, mode="append")
    q2 = maintain_aggregate(
        eng, spark.readStream.schema(fact.schema).parquet(src),
        ["[Customer].[Nation]"], ["Sum Qty"], summary, ckpt,
        register=False,
    )
    q2.awaitTermination(300)
    return read_summary(spark, summary).select(
        "region_name", "nation_name", "sum_qty"
    )


@q(
    "events_approx_quantiles",
    """
    SELECT event_type,
           quantile_cont(value, 0.5) AS p50_value,
           quantile_cont(value, 0.95) AS p95_value,
           TRUE AS approx_within_rank_bound
    FROM events GROUP BY 1
    """,
)
def events_approx_quantiles(spark, sf_dir):
    """Approximate quantiles as the scale path with a LIVE error-bound
    assertion (the approx_distinct_parts contract): the raw
    approx_percentile output is engine-specific, so the hash-comparable
    row is the exact quantile plus a boolean asserting the approx value
    sits between the exact quantiles at p±2ε (ε = 1/accuracy — the
    documented rank-error guarantee of Greenwald-Khanna at
    accuracy=1000).  A drifting sketch implementation turns the row red
    instead of hiding."""
    ev = _events(spark, sf_dir)
    g = ev.groupBy("event_type").agg(
        F.expr("percentile(value, array(0.5, 0.95))").alias("ex"),
        F.expr("approx_percentile(value, array(0.5, 0.95), 1000)").alias("ap"),
    )
    # verify the RANK of the returned element directly (the actual
    # Greenwald-Khanna contract): the value's rank window
    # [count(<v), count(<=v)] must intersect [p−ε, p+ε]·n, ε = 1/1000
    # (+1 element of slack for the window endpoints at small n)
    j = ev.join(F.broadcast(g), "event_type")
    r = j.groupBy("event_type").agg(
        F.count("value").alias("n"),
        F.sum((F.col("value") < F.col("ap")[0]).cast("long")).alias("lt50"),
        F.sum((F.col("value") <= F.col("ap")[0]).cast("long")).alias("le50"),
        F.sum((F.col("value") < F.col("ap")[1]).cast("long")).alias("lt95"),
        F.sum((F.col("value") <= F.col("ap")[1]).cast("long")).alias("le95"),
        F.first("ex").alias("ex"),
    )
    eps = F.lit(0.001)
    n = F.col("n").cast("double")

    def ok(lt, le, p):
        return (F.col(lt) <= (F.lit(p) + eps) * n + F.lit(1.0)) & (
            F.col(le) >= (F.lit(p) - eps) * n - F.lit(1.0)
        )

    return r.select(
        "event_type",
        F.col("ex")[0].alias("p50_value"),
        F.col("ex")[1].alias("p95_value"),
        (ok("lt50", "le50", 0.5) & ok("lt95", "le95", 0.95)).alias(
            "approx_within_rank_bound"
        ),
    )


@q(
    "bucketed_star_gate",
    """
    SELECT year(o_orderdate) AS o_year,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
             AS sum_price
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1
    """,
)
def bucketed_star_gate(spark, sf_dir):
    """Bucketed/co-located storage (§2.1) through the driver gate: the
    fact and its bridge are materialized bucketed+sorted on the join
    key, the query plans through the catalog engine over the bucketed
    tables (shuffle-free fact⋈bridge — plan property asserted in
    tests/test_bucketing.py), and the result must equal the plain-scan
    oracle bit-for-bit: physical design must never change answers."""
    from .query import Query
    from .sources import engine_from_catalog
    from .sources.bucketing import BucketSpec, materialize_bucketed
    from .tpch import SCHEMA

    mapping = materialize_bucketed(
        spark,
        sf_dir,
        [
            BucketSpec("lineitem", "l_orderkey", 8),
            BucketSpec("orders", "o_orderkey", 8),
        ],
        database="molap_bucketed_gate",
        plain_tables=["customer", "nation", "region", "supplier", "part"],
    )
    eng = engine_from_catalog(spark, SCHEMA, "Sales", mapping)
    return (
        Query(eng)
        .columns("[Measures].[Sum Price]")
        .rows("[Time].[Year].Members")
        .execute()
        .df
    )


@q(
    "embed_ivf_recall_gate",
    f"""
    WITH en AS (
      SELECT vec_id, {_EMB_D} AS v,
             sqrt(list_dot_product({_EMB_D}, {_EMB_D})) AS nv
      FROM embeddings
      WHERE list_dot_product({_EMB_D}, {_EMB_D}) > 0
    ),
    c AS (SELECT vec_id AS cid, v AS cv, nv AS cn FROM en ORDER BY vec_id LIMIT 8),
    a AS (
      SELECT en.vec_id, c.cid,
             row_number() OVER (
               PARTITION BY en.vec_id
               ORDER BY list_dot_product(en.v, c.cv) / (en.nv * c.cn) DESC, c.cid
             ) AS rn
      FROM en CROSS JOIN c
    ),
    cell AS (SELECT vec_id, cid AS cell FROM a WHERE rn = 1),
    probe AS (
      SELECT vec_id AS query_id, cid AS cell FROM a
      WHERE rn <= 2 AND vec_id IN (0, 100, 200, 300, 400)
    ),
    ivf AS (
      SELECT query_id, neighbor_id FROM (
        SELECT p.query_id, ce.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY p.query_id
                 ORDER BY list_dot_product(q.v, n.v) / (q.nv * n.nv) DESC,
                          ce.vec_id
               ) AS rn
        FROM probe p
        JOIN cell ce ON ce.cell = p.cell AND ce.vec_id <> p.query_id
        JOIN en q ON q.vec_id = p.query_id
        JOIN en n ON n.vec_id = ce.vec_id
      ) WHERE rn <= 10
    ),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_dot_product(q.v, n.v) / (q.nv * n.nv) DESC,
                          n.vec_id
               ) AS rn
        FROM en q JOIN en n ON n.vec_id <> q.vec_id
        WHERE q.vec_id IN (0, 100, 200, 300, 400)
      ) WHERE rn <= 10
    )
    SELECT e.query_id,
           CAST(count(i.neighbor_id) AS BIGINT) AS n_overlap,
           round(count(i.neighbor_id) / 10.0, 6) AS recall_at_10
    FROM exact e
    LEFT JOIN ivf i ON i.query_id = e.query_id
                   AND i.neighbor_id = e.neighbor_id
    GROUP BY 1
    """,
)
def embed_ivf_recall_gate(spark, sf_dir):
    """ANN quality through the driver gate: per-query recall@10 of the
    IVF path (n_probe=2 of 8 cells) against the exact brute-force
    top-10.  Both sides are deterministic (seed centroids, id
    tiebreaks), so the recall itself is hash-comparable — the oracle
    recomputes the ENTIRE IVF pipeline and the exact ranking in SQL.
    This is the measured number behind the n_probe recall-knob claim."""
    emb = _emb(spark, sf_dir)
    qids = [0, 100, 200, 300, 400]
    exact = similarity.cosine_topk(emb, qids, k=10).select(
        "query_id", "neighbor_id"
    )
    ivf = similarity.ivf_topk(
        emb, qids, k=10, n_cells=8, n_probe=2
    ).select("query_id", "neighbor_id").withColumn("__hit", F.lit(1))
    return (
        exact.join(ivf, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.count("__hit").alias("n_overlap"))
        .select(
            "query_id",
            "n_overlap",
            F.round(F.col("n_overlap") / 10.0, 6).alias("recall_at_10"),
        )
    )


@q(
    "multimodal_real_bmp_gate",
    """
    WITH g AS (
      SELECT doc_id, t1.y, t2.x,
             ((doc_id + 7*t1.y + 13*t2.x) % 256) / 255.0 AS b,
             ((doc_id + 7*t1.y + 13*t2.x + 29) % 256) / 255.0 AS gg,
             ((doc_id + 7*t1.y + 13*t2.x + 58) % 256) / 255.0 AS r
      FROM documents, range(0, 4) t1(y), range(0, 4) t2(x)
    )
    SELECT doc_id AS media_id, 4 AS width, 4 AS height,
           round(CAST(CAST(avg(r) AS REAL) AS DOUBLE), 6) AS r_mean,
           round(CAST(CAST(avg(gg) AS REAL) AS DOUBLE), 6) AS g_mean,
           round(CAST(CAST(avg(b) AS REAL) AS DOUBLE), 6) AS b_mean,
           round(CAST(CAST(min(0.299*r + 0.587*gg + 0.114*b) AS REAL) AS DOUBLE), 6)
             AS lum_min,
           round(CAST(CAST(max(0.299*r + 0.587*gg + 0.114*b) AS REAL) AS DOUBLE), 6)
             AS lum_max
    FROM g GROUP BY 1
    """,
)
def multimodal_real_bmp_gate(spark, sf_dir):
    """The REAL stdlib BMP codec through the driver gate (the fake-decoder
    entry proves plumbing; this proves the codec): deterministic 4×4
    BGR pixels are synthesized from each doc_id, encoded to genuine
    24-bpp BMP bytes (encode_bmp), decoded back through
    decode_media(real_decoder) — struct header parse + pixel math — and
    the per-channel means and luminance extrema must match the oracle's
    closed-form pixel arithmetic.  Payload bytes never leave the
    executors (mapInPandas both directions)."""
    import numpy as np
    import pandas as pd

    from .operators import multimodal as mm

    docs = _docs(spark, sf_dir).select("doc_id")

    def gen(it):
        y, x, c = np.meshgrid(range(4), range(4), range(3), indexing="ij")
        base = 7 * y + 13 * x + 29 * c  # constant per batch, not per row
        for pdf in it:
            dids = pdf["doc_id"].to_numpy(dtype=np.int64)
            px_all = ((dids[:, None, None, None] + base) % 256).astype(
                np.uint8
            )
            yield pd.DataFrame(
                {
                    "media_id": dids,
                    "kind": "image",
                    # one header build + padded-buffer write for the whole
                    # batch (bit-identical to per-row encode_bmp)
                    "payload": mm.encode_bmp_batch(px_all),
                }
            )

    media = docs.mapInPandas(
        gen, schema="media_id long, kind string, payload binary"
    )
    dec = mm.decode_media(media, decoder=mm.real_decoder)
    f = F.col("features")
    return dec.select(
        "media_id",
        "width",
        "height",
        F.round(f[0].cast("double"), 6).alias("r_mean"),
        F.round(f[1].cast("double"), 6).alias("g_mean"),
        F.round(f[2].cast("double"), 6).alias("b_mean"),
        F.round(f[5].cast("double"), 6).alias("lum_min"),
        F.round(f[6].cast("double"), 6).alias("lum_max"),
    )


@q(
    "multimodal_real_wav_gate",
    """
    WITH s AS (
      SELECT doc_id, t.i,
             (((doc_id*31 + t.i*17) % 2001) - 1000) / 32768.0 AS v
      FROM documents, range(0, 32) t(i)
    ),
    d AS (
      SELECT doc_id, v,
             CASE WHEN v < 0 THEN 1 ELSE 0 END
               - lag(CASE WHEN v < 0 THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY i) AS flip
      FROM s
    )
    SELECT doc_id AS media_id, 32 AS n_samples, 1 AS channels,
           round(CAST(CAST(avg(v) AS REAL) AS DOUBLE), 6) AS mean_amp,
           round(CAST(CAST(sqrt(avg(v*v)) AS REAL) AS DOUBLE), 6) AS rms_amp,
           round(CAST(CAST(max(abs(v)) AS REAL) AS DOUBLE), 6) AS peak_amp,
           round(CAST(CAST(avg(CAST(abs(flip) AS DOUBLE))
                             FILTER (flip IS NOT NULL) AS REAL) AS DOUBLE), 6)
             AS zcr,
           round(CAST(CAST(count(*) / 8000.0 AS REAL) AS DOUBLE), 6)
             AS duration_s
    FROM d GROUP BY 1
    """,
)
def multimodal_real_wav_gate(spark, sf_dir):
    """The REAL stdlib WAV codec through the driver gate (companion to
    multimodal_real_bmp_gate): a deterministic 32-sample 16-bit PCM
    waveform is synthesized per doc_id, serialized to genuine RIFF/WAVE
    bytes (encode_wav), decoded back through decode_media(real_decoder)
    — RIFF chunk walk + numpy sample math — and the amplitude statistics
    (mean/RMS/peak), zero-crossing rate and duration must match the
    oracle's closed-form sample arithmetic.  Payload bytes never leave
    the executors (mapInPandas both directions)."""
    import numpy as np
    import pandas as pd

    from .operators import multimodal as mm

    docs = _docs(spark, sf_dir).select("doc_id")

    def gen(it):
        step = np.arange(32, dtype=np.int64) * 17
        for pdf in it:
            dids = pdf["doc_id"].to_numpy(dtype=np.int64)
            # one broadcasted synthesis for the whole batch instead of a
            # per-row arange chain (guide §4.2: batch the numpy work)
            smp = ((dids[:, None] * 31 + step[None, :]) % 2001 - 1000).astype(
                "<i2"
            )
            yield pd.DataFrame(
                {
                    "media_id": dids,
                    "kind": "audio",
                    # one shared RIFF header + per-row raw sample bytes
                    # (bit-identical to per-row encode_wav)
                    "payload": mm.encode_wav_batch(smp, sample_rate=8000),
                }
            )

    media = docs.mapInPandas(
        gen, schema="media_id long, kind string, payload binary"
    )
    dec = mm.decode_media(media, decoder=mm.real_decoder)
    f = F.col("features")
    return dec.select(
        "media_id",
        F.col("width").alias("n_samples"),
        F.col("height").alias("channels"),
        F.round(f[0].cast("double"), 6).alias("mean_amp"),
        F.round(f[1].cast("double"), 6).alias("rms_amp"),
        F.round(f[2].cast("double"), 6).alias("peak_amp"),
        F.round(f[3].cast("double"), 6).alias("zcr"),
        F.round(f[4].cast("double"), 6).alias("duration_s"),
    )


@q(
    "text_cms_frequency_gate",
    """
    WITH tok AS (
      SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w
      FROM documents
    ),
    t AS (SELECT w FROM tok WHERE w <> ''),
    exact AS (SELECT w AS token, count(*) AS exact_n FROM t GROUP BY 1),
    cells AS (
      SELECT d.d AS depth,
             ('0x' || substr(md5(d.d::VARCHAR || ':' || w), 1, 15))::BIGINT
               % 16 AS idx,
             count(*) AS n
      FROM t, range(0, 4) d(d)
      GROUP BY 1, 2
    ),
    est AS (
      SELECT e.token, min(c.n) AS cms_n
      FROM exact e
      CROSS JOIN range(0, 4) d(d)
      JOIN cells c
        ON c.depth = d.d
       AND c.idx = ('0x' || substr(md5(d.d::VARCHAR || ':' || e.token), 1, 15))
                     ::BIGINT % 16
      GROUP BY 1
    )
    SELECT e.token, e.exact_n, s.cms_n, s.cms_n - e.exact_n AS over_n
    FROM exact e JOIN est s USING (token)
    """,
)
def text_cms_frequency_gate(spark, sf_dir):
    """Count-min sketch through the driver gate: build a 4x16 sketch of
    the whole corpus token stream (text.cms_sketch — bounded memory at
    any corpus size), estimate every distinct token's frequency from it
    (text.cms_estimate — broadcast lookup), and join back the exact
    counts.  The oracle replays the identical md5-prefix hash rows in
    SQL, so the per-token estimates — including every collision
    overestimate at this deliberately tight width — must match
    bit-for-bit.  over_n >= 0 always (the min-property)."""
    docs = _docs(spark, sf_dir)
    toks = (
        docs.select(F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token"))
        .where(F.col("token") != "")
    )
    exact = toks.groupBy("token").agg(F.count("*").alias("exact_n"))
    sketch = text.cms_sketch(docs, width=16, depth=4)
    est = text.cms_estimate(sketch, exact.select("token"), width=16, depth=4)
    return (
        exact.join(est, "token")
        .select(
            "token",
            "exact_n",
            "cms_n",
            (F.col("cms_n") - F.col("exact_n")).alias("over_n"),
        )
    )


@q(
    "pipeline_apply_changes",
    """
    WITH changes AS (
      SELECT doc_id, 1 AS change_seq, 'delete' AS op,
             CAST(NULL AS VARCHAR) AS text, CAST(NULL AS VARCHAR) AS lang,
             CAST(NULL AS VARCHAR) AS source, CAST(NULL AS BIGINT) AS n_chars
      FROM documents WHERE doc_id % 7 = 0
      UNION ALL
      SELECT doc_id, 1, 'upsert', text || ' v2', lang, source, n_chars
      FROM documents WHERE doc_id % 7 = 1
      UNION ALL
      SELECT doc_id + 1000000, 1, 'upsert',
             'fresh crawl document number ' || doc_id, lang, source, n_chars
      FROM documents WHERE doc_id % 7 = 2
      UNION ALL
      SELECT doc_id, 2, 'delete', NULL, NULL, NULL, NULL
      FROM documents WHERE doc_id % 14 = 1
    ),
    latest AS (
      SELECT * FROM (
        SELECT c.*, row_number() OVER (
          PARTITION BY doc_id ORDER BY change_seq DESC
        ) AS rn FROM changes c
      ) WHERE rn = 1
    ),
    merged AS (
      SELECT coalesce(s.doc_id, l.doc_id) AS doc_id,
             CASE WHEN l.doc_id IS NULL THEN s.text ELSE l.text END AS text,
             CASE WHEN l.doc_id IS NULL THEN s.source ELSE l.source END
               AS source,
             l.op AS op
      FROM documents s FULL OUTER JOIN latest l ON s.doc_id = l.doc_id
    )
    SELECT doc_id, md5(coalesce(text, '')) AS fp, source
    FROM merged WHERE op IS NULL OR op = 'upsert'
    """,
)
def pipeline_apply_changes(spark, sf_dir):
    """CDC merge through the driver gate: a deterministic change feed
    (deletes for doc_id%7=0, in-place updates for %7=1, brand-new ids
    for %7=2, plus a SECOND later delete for %14=1 so last-wins
    resolution is exercised, not just assumed) is applied to the
    documents snapshot with pipeline.apply_changes — one feed-collapse
    aggregation + one full-outer id join — and the resulting next
    snapshot must match the oracle's windowed replay row-for-row."""
    from .operators import pipeline as pl

    docs = _docs(spark, sf_dir)
    nul_s, nul_l = F.lit(None).cast("string"), F.lit(None).cast("long")
    deletes = docs.where("doc_id % 7 = 0").select(
        "doc_id", F.lit(1).alias("change_seq"), F.lit("delete").alias("op"),
        nul_s.alias("text"), nul_s.alias("lang"), nul_s.alias("source"),
        nul_l.alias("n_chars"),
    )
    updates = docs.where("doc_id % 7 = 1").select(
        "doc_id", F.lit(1).alias("change_seq"), F.lit("upsert").alias("op"),
        F.concat("text", F.lit(" v2")).alias("text"), "lang", "source",
        "n_chars",
    )
    inserts = docs.where("doc_id % 7 = 2").select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.lit(1).alias("change_seq"), F.lit("upsert").alias("op"),
        F.concat(F.lit("fresh crawl document number "), F.col("doc_id"))
          .alias("text"),
        "lang", "source", "n_chars",
    )
    late_deletes = docs.where("doc_id % 14 = 1").select(
        "doc_id", F.lit(2).alias("change_seq"), F.lit("delete").alias("op"),
        nul_s.alias("text"), nul_s.alias("lang"), nul_s.alias("source"),
        nul_l.alias("n_chars"),
    )
    feed = deletes.unionByName(updates).unionByName(inserts).unionByName(
        late_deletes
    )
    nxt = pl.apply_changes(docs, feed)
    return nxt.select(
        "doc_id",
        F.md5(F.coalesce("text", F.lit(""))).alias("fp"),
        "source",
    )


from .operators import util as _util  # noqa: E402  (module-level for oracle SQL)

_ZORDER_DIMS_SQL = "user_id % 256", "event_id % 256"


@q(
    "events_zorder_cells",
    f"""
    WITH z AS (
      SELECT event_id,
             {_util.zorder_sql(list(_ZORDER_DIMS_SQL), bits=8)} AS zval
      FROM events
    )
    SELECT zval >> 8 AS zcell, count(*) AS n_events,
           min(zval) AS z_min, max(zval) AS z_max
    FROM z GROUP BY 1
    """,
)
def events_zorder_cells(spark, sf_dir):
    """Morton-key parity gate: the interleaved-bit z-order key
    (util.zorder_key — unrolled shift/mask/or, whole-stage codegen) over
    two bucketed event dimensions must match the oracle's closed-form
    bit arithmetic on every row; rows are then grouped into coarse
    z-cells (top 8 bits) so the output also pins the key's ORDERING
    structure (cell min/max) rather than only its values.  This is the
    clustering key zorder_repartition sorts by for multi-dimensional
    parquet data skipping."""
    ev = _events(spark, sf_dir)
    z = ev.select(
        "event_id",
        _util.zorder_key(
            F.col("user_id") % 256, F.col("event_id") % 256, bits=8
        ).alias("zval"),
    )
    return z.groupBy(F.shiftright("zval", 8).alias("zcell")).agg(
        F.count("*").alias("n_events"),
        F.min("zval").alias("z_min"),
        F.max("zval").alias("z_max"),
    )


@q(
    "events_salted_join",
    """
    WITH dim AS (
      SELECT DISTINCT event_type,
             CAST(length(event_type) AS INT) AS weight
      FROM events
    )
    SELECT e.event_type, count(*) AS n_events,
           CAST(min(e.event_id) AS BIGINT) AS min_event,
           min(d.weight) AS weight
    FROM events e JOIN dim d ON e.event_type = d.event_type
    GROUP BY 1
    """,
)
def events_salted_join(spark, sf_dir):
    """Skew-safe join through the driver gate: events' event_type column
    is the textbook hot key (a handful of values over the whole fact),
    so the dim join runs as util.salted_join — the fact side salted into
    8 deterministic shards, the dim replicated per shard, the join keyed
    on (event_type, salt) so no task ever receives a whole hot key.  The
    oracle runs the PLAIN join: salting must change the shuffle
    distribution and nothing else."""
    ev = _events(spark, sf_dir)
    dim = (
        ev.select("event_type")
        .distinct()
        .withColumn("weight", F.length("event_type").cast("int"))
    )
    joined = _util.salted_join(ev, dim, on=["event_type"], buckets=8)
    return joined.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.min("event_id").alias("min_event"),
        F.min("weight").alias("weight"),
    )


@q(
    "streaming_cms_gate",
    """
    WITH tok AS (
      SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w
      FROM documents
    ),
    t AS (SELECT w FROM tok WHERE w <> '')
    SELECT CAST(d.d AS INT) AS depth,
           ('0x' || substr(md5(d.d::VARCHAR || ':' || w), 1, 15))::BIGINT
             % 64 AS idx,
           count(*) AS n
    FROM t, range(0, 4) d(d)
    GROUP BY 1, 2
    """,
)
def streaming_cms_gate(spark, sf_dir):
    """STREAMING count-min maintenance hash-compared against the batch
    SQL oracle: the corpus arrives as 4 files with maxFilesPerTrigger=1,
    so the 4x64 sketch accumulates across at least four micro-batches —
    the incremental cell-sum merge actually runs, it isn't one big
    batch in disguise.  cms_sketch is applied UNCHANGED to the streaming
    frame (bounded state = the cell table), and the complete-mode result
    must equal the closed-form oracle bit-for-bit."""
    import tempfile

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    work = tempfile.mkdtemp(prefix="stream_cms_")
    staging = f"{work}/staging"
    docs.repartition(4).write.mode("overwrite").parquet(staging)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staging)
    )
    sketch = text.cms_sketch(stream, width=64, depth=4)
    name = "stream_cms_gate_view"
    spark.catalog.dropTempView(name)
    q_ = (
        sketch.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q_.awaitTermination(300)
    return spark.table(name)


@q(
    "pipeline_shuffle_order",
    """
    SELECT doc_id,
           CAST(row_number() OVER (
             ORDER BY ('0x' || substr(md5('epoch0:' || doc_id), 1, 15))::BIGINT,
                      doc_id
           ) AS BIGINT) AS shuffle_rank
    FROM documents
    """,
)
def pipeline_shuffle_order(spark, sf_dir):
    """Reproducible epoch-shuffle order through the driver gate: every
    doc's position under pipeline.shuffle_order (content-addressed
    md5(seed:id) sort key) must equal the oracle's global ROW_NUMBER —
    but the engine computes it via util.distributed_rank (range
    partition + per-partition window + broadcast prefix offsets), never
    a single-task global window.  Same seed → same permutation on any
    partitioning; next epoch = next seed string."""
    from .operators import pipeline as pl

    docs = _docs(spark, sf_dir).select("doc_id")
    return pl.shuffle_order(docs, seed="epoch0").select(
        "doc_id", "shuffle_rank"
    )


@q(
    "pipeline_padding_efficiency",
    """
    WITH t AS (
      SELECT len(string_split_regex(trim(coalesce(text, '')), '\\s+')) AS n
      FROM documents
    )
    SELECT CAST(1 << (length(bin(greatest(n, 1))) - 1) AS BIGINT) AS bucket_lo,
           count(*) AS n_docs,
           CAST(sum(n) AS BIGINT) AS total_tokens,
           CAST(sum(CASE WHEN n <= 128 THEN 128 - n ELSE 0 END) AS BIGINT)
             AS pad_waste,
           CAST(sum(CASE WHEN n > 128 THEN n - 128 ELSE 0 END) AS BIGINT)
             AS trunc_loss,
           round(CAST(sum(CASE WHEN n <= 128 THEN 128 - n ELSE 0 END)
                        AS DOUBLE) / (count(*) * 128), 6) AS pad_ratio
    FROM t GROUP BY 1
    """,
)
def pipeline_padding_efficiency(spark, sf_dir):
    """Context-window cost report through the driver gate: per
    power-of-two length bucket, the padding tokens a one-doc-per-sequence
    batch at seq_len=128 would burn and the tokens truncation would lose
    (packing.padding_efficiency — pure integer arithmetic until the one
    final ratio division, so bit-exact across engines)."""
    from .operators import packing

    docs = _docs(spark, sf_dir)
    return packing.padding_efficiency(docs, seq_len=128)


@q(
    "text_bigram_perplexity",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(coalesce(text, '')), '\\s+')) AS w,
             generate_subscripts(string_split_regex(trim(coalesce(text, '')), '\\s+'), 1) AS pos
      FROM documents
    ),
    bg AS (
      SELECT a.doc_id AS id, a.w AS w1, b.w AS w2
      FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    ),
    c AS (SELECT id, w1, w2, count(*) AS c FROM bg GROUP BY 1, 2, 3),
    cb AS (SELECT w1, w2, CAST(sum(c) AS BIGINT) AS cb FROM c GROUP BY 1, 2),
    cx AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS cx FROM cb GROUP BY 1),
    vv AS (SELECT count(DISTINCT w) AS V FROM toks WHERE w <> ''),
    j AS (
      SELECT c.id, c.w1, c.w2, c.c, cb.cb, cx.cx, vv.V
      FROM c JOIN cb USING (w1, w2) JOIN cx USING (w1) CROSS JOIN vv
    ),
    d AS (
      SELECT id, CAST(sum(c) AS BIGINT) AS n_bigrams, any_value(V) AS V,
             list(struct_pack(c := CAST(c AS DOUBLE),
                              cb := CAST(cb AS DOUBLE),
                              cx := CAST(cx AS DOUBLE))
                  ORDER BY w1, w2) AS bl
      FROM j GROUP BY 1
    )
    SELECT id, n_bigrams,
           round(-list_reduce(
                    list_prepend(CAST(0.0 AS DOUBLE),
                      list_transform(bl, s ->
                        s.c * ln((s.cb + 1.0)
                                 / (s.cx + 1.0 * CAST(V AS DOUBLE))))),
                    (a, b) -> a + b)
                  / CAST(n_bigrams AS DOUBLE), 6) AS neg_logprob,
           round(exp(-(list_reduce(
                    list_prepend(CAST(0.0 AS DOUBLE),
                      list_transform(bl, s ->
                        s.c * ln((s.cb + 1.0)
                                 / (s.cx + 1.0 * CAST(V AS DOUBLE))))),
                    (a, b) -> a + b)
                  / CAST(n_bigrams AS DOUBLE))), 6) AS ppl
    FROM d
    """,
)
def text_bigram_perplexity(spark, sf_dir):
    """CCNet-style fluency scoring through the driver gate: per-doc
    perplexity under the corpus's own add-1-smoothed bigram LM
    (text.bigram_perplexity).  The oracle replays the identical counts,
    smoothing arithmetic and SORTED sequential log-fold, so the doubles
    must agree bit-for-bit before the 6-decimal rounding."""
    return text.bigram_perplexity(_docs(spark, sf_dir))


@q(
    "dedup_incremental_bloom",
    """
    WITH corpus_fp AS (
      SELECT DISTINCT md5(lower(trim(text))) AS fp FROM documents
    ),
    newdocs AS (
      SELECT doc_id + 1000000 AS doc_id,
             md5(lower(trim(CASE WHEN doc_id % 3 = 0 THEN text
                                 ELSE text || ' fresh suffix' END))) AS fingerprint
      FROM documents
    ),
    ks AS (SELECT unnest([0, 1, 2, 3]) AS i),
    pos AS (
      SELECT (('0x' || substr(md5('bloom' || i || ':' || fp), 1, 15))::BIGINT
              % 2046) AS p
      FROM corpus_fp CROSS JOIN ks
    ),
    words AS (
      SELECT (p // 62) AS w,
             bit_or(1::BIGINT << ((p % 62)::INT)) AS bits
      FROM pos GROUP BY 1
    ),
    probes AS (
      SELECT n.doc_id, n.fingerprint,
             (('0x' || substr(md5('bloom' || ks.i || ':' || n.fingerprint),
                              1, 15))::BIGINT % 2046) AS p
      FROM newdocs n CROSS JOIN ks
    ),
    hit AS (
      SELECT pr.doc_id, pr.fingerprint,
             bool_and(coalesce(
               (w.bits & (1::BIGINT << ((pr.p % 62)::INT))) <> 0,
               FALSE)) AS bloom_hit
      FROM probes pr LEFT JOIN words w ON (pr.p // 62) = w.w
      GROUP BY 1, 2
    )
    SELECT h.doc_id, h.fingerprint, h.bloom_hit,
           (h.bloom_hit AND cf.fp IS NOT NULL) AS is_dup
    FROM hit h LEFT JOIN corpus_fp cf ON h.fingerprint = cf.fp
    """,
)
def dedup_incremental_bloom(spark, sf_dir):
    """Incremental exact-dedup of a synthetic ingest batch (one third exact
    copies of the corpus, two thirds modified) against the existing corpus:
    Bloom-bitmap prefilter + exact verification of the hits ONLY
    (dedup.incremental_dedup).  The 2046-bit/4-hash bitmap is deliberately
    tight (~17% fp at sf0.01), so dozens of FALSE POSITIVES must reproduce
    bit-for-bit in the oracle's replay of the bitmap arithmetic — while
    is_dup must stay exact (a Bloom filter has no false negatives, and only
    hits reach the verification join)."""
    docs = _docs(spark, sf_dir)
    new = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.when(F.col("doc_id") % 3 == 0, F.col("text"))
        .otherwise(F.concat(F.col("text"), F.lit(" fresh suffix")))
        .alias("text"),
    )
    return dedup.incremental_dedup(new, docs, m_bits=2046, k=4)


@q(
    "pipeline_stateful_ingest_gate",
    """
    WITH b1 AS (
      SELECT doc_id + 1000000 AS doc_id,
             CASE WHEN doc_id % 3 = 0 THEN text
                  ELSE text || ' fresh suffix' END AS text
      FROM documents
    ),
    b2 AS (
      SELECT doc_id + 2000000 AS doc_id,
             CASE WHEN doc_id % 2 = 0 THEN text || ' fresh suffix'
                  ELSE text || ' second wave' END AS text
      FROM documents
    ),
    corpus_fp AS (
      SELECT DISTINCT md5(lower(trim(text))) AS cf FROM documents
    ),
    k1 AS (
      SELECT md5(lower(trim(text))) AS f, min(doc_id) AS keep_id,
             count(*) AS dup_count
      FROM b1 GROUP BY 1
    ),
    s1 AS (
      SELECT d.doc_id, d.text, k.f, k.dup_count
      FROM b1 d JOIN k1 k
        ON md5(lower(trim(d.text))) = k.f AND d.doc_id = k.keep_id
    ),
    q1 AS (SELECT doc_id, f, dup_count FROM s1 WHERE ({reason}) IS NULL),
    kept1 AS MATERIALIZED (
      SELECT doc_id, f, dup_count FROM q1
      WHERE NOT EXISTS (SELECT 1 FROM corpus_fp WHERE cf = f)
    ),
    k2 AS (
      SELECT md5(lower(trim(text))) AS f, min(doc_id) AS keep_id,
             count(*) AS dup_count
      FROM b2 GROUP BY 1
    ),
    s2 AS (
      SELECT d.doc_id, d.text, k.f, k.dup_count
      FROM b2 d JOIN k2 k
        ON md5(lower(trim(d.text))) = k.f AND d.doc_id = k.keep_id
    ),
    q2 AS (SELECT doc_id, f, dup_count FROM s2 WHERE ({reason}) IS NULL),
    kept2 AS (
      SELECT doc_id, f, dup_count FROM q2
      WHERE NOT EXISTS (SELECT 1 FROM corpus_fp WHERE cf = f)
        AND NOT EXISTS (SELECT 1 FROM kept1 WHERE kept1.f = q2.f)
    ),
    u AS (
      SELECT 1 AS batch, doc_id, dup_count FROM kept1
      UNION ALL
      SELECT 2 AS batch, doc_id, dup_count FROM kept2
    )
    SELECT batch, count(*) AS n_docs,
           CAST(sum(dup_count) AS BIGINT) AS n_dups_absorbed,
           md5(string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id)) AS kept_md5
    FROM u GROUP BY 1
    """.replace("{reason}", _REASON_SQL),
)
def pipeline_stateful_ingest_gate(spark, sf_dir):
    """STATEFUL multi-batch ingestion in the driver gate — the composed
    production path over the persisted membership artifacts
    (pipeline.init_ingest_state + ingest_batch): batch 1 curates against
    the corpus state (bloom prefilter → exact fingerprint-store verify,
    never the corpus text) and folds its acceptances back in; batch 2's
    duplicates of batch-1 ACCEPTANCES must then reject purely via the
    carried state.  The oracle replays both batches with plain
    NOT EXISTS chains (corpus, then corpus ∪ kept1), so the accepted-set
    md5s prove the bitmap + store machinery changes physical strategy
    only, never membership."""
    import tempfile

    from .operators.pipeline import ingest_batch, init_ingest_state

    docs = _docs(spark, sf_dir)
    state = tempfile.mkdtemp(prefix="ingest_state_") + "/state"
    init_ingest_state(docs, state)
    b1 = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.when(F.col("doc_id") % 3 == 0, F.col("text"))
        .otherwise(F.concat(F.col("text"), F.lit(" fresh suffix")))
        .alias("text"),
    )
    b2 = docs.select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.col("text"), F.lit(" fresh suffix")),
        )
        .otherwise(F.concat(F.col("text"), F.lit(" second wave")))
        .alias("text"),
    )
    a1 = ingest_batch(b1, state).withColumn("batch", F.lit(1))
    a2 = ingest_batch(b2, state).withColumn("batch", F.lit(2))
    return (
        a1.select("batch", "doc_id", "dup_count")
        .unionByName(a2.select("batch", "doc_id", "dup_count"))
        .groupBy("batch")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("dup_count").alias("n_dups_absorbed"),
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.array_sort(F.collect_list("doc_id")),
                        lambda x: x.cast("string"),
                    ),
                )
            ).alias("kept_md5"),
        )
    )




def _neardup_state_oracle() -> str:
    """Generate the DuckDB replay of the near-dup stateful ingest: MinHash
    signatures (16 md5-derived universal hashes over positional
    3-shingles), 8×2 banding, candidate generation by band collision,
    signature-estimated Jaccard (matching-component fraction ≥ 0.8), and
    the two-batch NOT-EXISTS state chain — the same arithmetic
    operators/dedup.py inlines into its Spark expressions, so the kept
    sets must agree exactly (the estimator's variance is irrelevant: both
    engines compute the SAME estimate)."""
    from .operators.dedup import MINHASH_PRIME, minhash_coefficients

    nh, bands, rows = 16, 8, 2
    p = MINHASH_PRIME
    min_aggs = ",\n             ".join(
        f"min(({a}::BIGINT * h + {b}::BIGINT) % {p}) AS m{i}"
        for i, (a, b) in enumerate(minhash_coefficients(nh))
    )
    match_sum = " + ".join(
        f"CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END" for i in range(nh)
    )

    def sig(name, src):
        band_sel = "\n      UNION ALL\n".join(
            f"      SELECT id, {bi} AS band, "
            f"md5(m{bi*rows}::VARCHAR || ',' || m{bi*rows+1}::VARCHAR) AS key "
            f"FROM sig_{name}"
            for bi in range(bands)
        )
        return f"""
    tok_{name} AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w,
             generate_subscripts(string_split_regex(trim(text), '\\s+'), 1) AS pos
      FROM {src}
    ),
    sh_{name} AS (
      SELECT DISTINCT a.doc_id AS id, a.w || ' ' || b.w || ' ' || c.w AS shingle
      FROM tok_{name} a
      JOIN tok_{name} b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      JOIN tok_{name} c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
    ),
    hs_{name} AS (
      SELECT id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT % {p} AS h
      FROM sh_{name}
    ),
    sig_{name} AS MATERIALIZED (
      SELECT id, {min_aggs}
      FROM hs_{name} GROUP BY id
    ),
    bk_{name} AS MATERIALIZED (
{band_sel}
    )"""

    return f"""
    WITH b1 AS (
      SELECT doc_id + 1000000 AS doc_id,
             CASE WHEN doc_id % 5 = 0 THEN text || ' tail marker tokens'
                  ELSE replace(text, ' ', 'q ') END AS text
      FROM documents
    ),
    b2 AS (
      SELECT doc_id + 2000000 AS doc_id,
             CASE WHEN doc_id % 5 = 0
                  THEN replace(text, ' ', 'q ') || ' tail marker tokens'
                  ELSE replace(text, ' ', 'z ') END AS text
      FROM documents
    ),
    corpus_fp AS (
      SELECT DISTINCT md5(lower(trim(text))) AS cf FROM documents
    ),
    k1 AS (
      SELECT md5(lower(trim(text))) AS f, min(doc_id) AS keep_id
      FROM b1 GROUP BY 1
    ),
    s1 AS (
      SELECT d.doc_id, d.text, k.f FROM b1 d
      JOIN k1 k ON md5(lower(trim(d.text))) = k.f AND d.doc_id = k.keep_id
    ),
    q1 AS (SELECT doc_id, text, f FROM s1 WHERE ({{reason}}) IS NULL),
    e1 AS MATERIALIZED (
      SELECT doc_id, text, f FROM q1
      WHERE NOT EXISTS (SELECT 1 FROM corpus_fp WHERE cf = f)
    ),{sig('c', 'documents')},{sig('e1', 'e1')},
    cand1 AS (
      SELECT DISTINCT n.id AS new_id, o.id AS old_id
      FROM bk_e1 n JOIN bk_c o ON n.band = o.band AND n.key = o.key
    ),
    nd1 AS (
      SELECT DISTINCT c.new_id FROM cand1 c
      JOIN sig_e1 a ON a.id = c.new_id
      JOIN sig_c b ON b.id = c.old_id
      WHERE CAST({match_sum} AS DOUBLE) / {float(nh)} >= 0.8
    ),
    kept1 AS (
      SELECT doc_id, text, f FROM e1
      WHERE doc_id NOT IN (SELECT new_id FROM nd1)
    ),
    k2 AS (
      SELECT md5(lower(trim(text))) AS f, min(doc_id) AS keep_id
      FROM b2 GROUP BY 1
    ),
    s2 AS (
      SELECT d.doc_id, d.text, k.f FROM b2 d
      JOIN k2 k ON md5(lower(trim(d.text))) = k.f AND d.doc_id = k.keep_id
    ),
    q2 AS (SELECT doc_id, text, f FROM s2 WHERE ({{reason}}) IS NULL),
    e2 AS MATERIALIZED (
      SELECT doc_id, text, f FROM q2
      WHERE NOT EXISTS (SELECT 1 FROM corpus_fp WHERE cf = f)
        AND NOT EXISTS (SELECT 1 FROM kept1 WHERE kept1.f = q2.f)
    ),{sig('e2', 'e2')},
    sig_state AS (
      SELECT * FROM sig_c
      UNION ALL
      SELECT * FROM sig_e1 WHERE id IN (SELECT doc_id FROM kept1)
    ),
    bk_state AS (
      SELECT * FROM bk_c
      UNION ALL
      SELECT * FROM bk_e1 WHERE id IN (SELECT doc_id FROM kept1)
    ),
    cand2 AS (
      SELECT DISTINCT n.id AS new_id, o.id AS old_id
      FROM bk_e2 n JOIN bk_state o ON n.band = o.band AND n.key = o.key
    ),
    nd2 AS (
      SELECT DISTINCT c.new_id FROM cand2 c
      JOIN sig_e2 a ON a.id = c.new_id
      JOIN sig_state b ON b.id = c.old_id
      WHERE CAST({match_sum} AS DOUBLE) / {float(nh)} >= 0.8
    ),
    kept2 AS (
      SELECT doc_id FROM e2
      WHERE doc_id NOT IN (SELECT new_id FROM nd2)
    ),
    u AS (
      SELECT 1 AS batch, doc_id FROM kept1
      UNION ALL
      SELECT 2 AS batch, doc_id FROM kept2
    )
    SELECT batch, count(*) AS n_docs,
           md5(string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id)) AS kept_md5
    FROM u GROUP BY 1
    """.replace("{reason}", _REASON_SQL)


@q("pipeline_stateful_neardup_gate", _neardup_state_oracle())
def pipeline_stateful_neardup_gate(spark, sf_dir):
    """The near-dup ARM of stateful ingestion in the driver gate
    (pipeline.init_ingest_state(near_dup=True) + ingest_batch
    near_dup_threshold): exact-dup survivors probe the persisted LSH
    band-key index, candidates verify by signature-estimated Jaccard
    (matching-component fraction over the stored MinHash signatures —
    corpus text never read), and acceptances fold band keys + signatures
    back.  Batch 1 plants corpus near-dups (3-token tails) among
    token-mangled novel docs; batch 2 plants near-dups of batch-1
    ACCEPTANCES — which must reject purely via the carried index state.
    The oracle replays the exact signature/banding/estimator arithmetic,
    so the kept-set md5s must agree regardless of estimator variance."""
    import tempfile

    from .operators.pipeline import ingest_batch, init_ingest_state

    docs = _docs(spark, sf_dir)
    state = tempfile.mkdtemp(prefix="neardup_state_") + "/state"
    init_ingest_state(docs, state, near_dup=True)
    b1 = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.col("text"), F.lit(" tail marker tokens")),
        )
        .otherwise(F.expr("replace(text, ' ', 'q ')"))
        .alias("text"),
    )
    b2 = docs.select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.expr("replace(text, ' ', 'q ')"),
                F.lit(" tail marker tokens"),
            ),
        )
        .otherwise(F.expr("replace(text, ' ', 'z ')"))
        .alias("text"),
    )
    a1 = ingest_batch(b1, state, near_dup_threshold=0.8).withColumn(
        "batch", F.lit(1)
    )
    a2 = ingest_batch(b2, state, near_dup_threshold=0.8).withColumn(
        "batch", F.lit(2)
    )
    return (
        a1.select("batch", "doc_id")
        .unionByName(a2.select("batch", "doc_id"))
        .groupBy("batch")
        .agg(
            F.count("*").alias("n_docs"),
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.array_sort(F.collect_list("doc_id")),
                        lambda x: x.cast("string"),
                    ),
                )
            ).alias("kept_md5"),
        )
    )


@q(
    "dedup_bloom_append_gate",
    """
    WITH all_fp AS (
      SELECT DISTINCT md5(lower(trim(text))) AS fp FROM documents
      UNION
      SELECT DISTINCT md5(lower(trim(text || ' batch one suffix')))
      FROM documents
    ),
    ks AS (SELECT unnest([0, 1, 2, 3]) AS i),
    pos AS (
      SELECT (('0x' || substr(md5('bloom' || i || ':' || fp), 1, 15))::BIGINT
              % 2046) AS p
      FROM all_fp CROSS JOIN ks
    ),
    words AS (
      SELECT (p // 62) AS w,
             bit_or(1::BIGINT << ((p % 62)::INT)) AS bits
      FROM pos GROUP BY 1
    ),
    newdocs AS (
      SELECT doc_id + 2000000 AS doc_id,
             md5(lower(trim(CASE WHEN doc_id % 3 = 0
                                 THEN text || ' batch one suffix'
                                 ELSE text || ' never seen' END)))
               AS fingerprint
      FROM documents
    ),
    probes AS (
      SELECT n.doc_id, n.fingerprint,
             (('0x' || substr(md5('bloom' || ks.i || ':' || n.fingerprint),
                              1, 15))::BIGINT % 2046) AS p
      FROM newdocs n CROSS JOIN ks
    )
    SELECT pr.doc_id, pr.fingerprint,
           bool_and(coalesce(
             (w.bits & (1::BIGINT << ((pr.p % 62)::INT))) <> 0,
             FALSE)) AS bloom_hit
    FROM probes pr LEFT JOIN words w ON (pr.p // 62) = w.w
    GROUP BY 1, 2
    """,
)
def dedup_bloom_append_gate(spark, sf_dir):
    """Persisted Bloom ARTIFACT maintenance in the driver gate (the
    exact-dup member of the maintenance trio beside ivf_append and
    minhash_index_append): the corpus bitmap is persisted with its
    (m_bits, k) params, an accepted batch is folded in via
    dedup.bloom_append — one batch-sized build + a bitmap-sized OR-merge,
    never a corpus rescan — and a second batch's probe over the merged
    artifact must reproduce the oracle's one-shot bitmap of
    corpus ∪ batch1 bit-for-bit (Bloom bitmaps compose exactly under OR;
    the tight 2046-bit sizing makes even the false positives replay)."""
    import tempfile

    corpus = _docs(spark, sf_dir)
    b1 = corpus.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" batch one suffix")).alias("text"),
    )
    work = tempfile.mkdtemp(prefix="bloom_append_") + "/bloom"
    bm = dedup.bloom_build(corpus, m_bits=2046, k=4)
    dedup.write_bloom(bm, work, m_bits=2046, k=4)
    dedup.bloom_append(b1, work)
    bitmap, m_bits, k = dedup.read_bloom(spark, work)
    b2 = corpus.select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.col("text"), F.lit(" batch one suffix")),
        )
        .otherwise(F.concat(F.col("text"), F.lit(" never seen")))
        .alias("text"),
    )
    return dedup.bloom_probe(b2, bitmap, m_bits=m_bits, k=k)


_INCR_SHINGLE_SQL = f"""
newdocs AS (
  SELECT doc_id + 1000000 AS doc_id,
         CASE WHEN doc_id % 5 = 0 THEN text || ' tail marker tokens'
              ELSE 'novel document ' || doc_id || ' unrelated content entirely'
         END AS text
  FROM documents
),
tok_c AS (
  SELECT doc_id, unnest({_DOC_TOKS}) AS w,
         generate_subscripts({_DOC_TOKS}, 1) AS pos
  FROM documents
),
tok_n AS (
  SELECT doc_id, unnest({_DOC_TOKS}) AS w,
         generate_subscripts({_DOC_TOKS}, 1) AS pos
  FROM newdocs
),
sh_c AS (
  SELECT DISTINCT a.doc_id AS id, a.w || ' ' || b.w || ' ' || c.w AS shingle
  FROM tok_c a JOIN tok_c b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
               JOIN tok_c c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
),
sh_n AS (
  SELECT DISTINCT a.doc_id AS id, a.w || ' ' || b.w || ' ' || c.w AS shingle
  FROM tok_n a JOIN tok_n b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
               JOIN tok_n c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
),
szc AS (SELECT id, count(*) AS n FROM sh_c GROUP BY 1),
szn AS (SELECT id, count(*) AS n FROM sh_n GROUP BY 1),
common AS (
  SELECT x.id AS new_id, y.id AS corpus_id, count(*) AS c
  FROM sh_n x JOIN sh_c y ON x.shingle = y.shingle GROUP BY 1, 2
)
"""


@q(
    "dedup_incremental_neardup",
    f"""
    WITH {_INCR_SHINGLE_SQL}
    SELECT new_id, corpus_id,
           round(c * 1.0 / (szn.n + szc.n - c), 6) AS jaccard
    FROM common
    JOIN szn ON szn.id = new_id
    JOIN szc ON szc.id = corpus_id
    WHERE c * 1.0 / (szn.n + szc.n - c) >= 0.8
    """,
)
def dedup_incremental_neardup(spark, sf_dir):
    """Incremental near-dup detection of a synthetic ingest batch (one
    fifth of the corpus with a 3-token tail appended → planted near-dups;
    the rest fresh text) against the existing corpus via the persisted-
    index probe path (dedup.incremental_neardup_pairs): batch band keys
    join the corpus's LSH bucket table, and ONLY candidate documents are
    re-shingled for exact verification.  The oracle is the exact all-pairs
    cross Jaccard — at the planted similarity floor (j ≥ 0.81) the 8×2-band
    miss probability is < 2e-4 per pair, verified empirically across
    sf0.001/0.01/0.1."""
    docs = _docs(spark, sf_dir)
    new = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.col("text"), F.lit(" tail marker tokens")),
        )
        .otherwise(
            F.concat(
                F.lit("novel document "),
                F.col("doc_id").cast("string"),
                F.lit(" unrelated content entirely"),
            )
        )
        .alias("text"),
    )
    pairs = dedup.incremental_neardup_pairs(new, docs, threshold=0.8)
    return pairs.withColumn("jaccard", F.round("jaccard", 6))


@q(
    "dedup_index_append_gate",
    f"""
    WITH b1 AS (
      SELECT doc_id + 1000000 AS doc_id, replace(text, ' ', 'q ') AS text
      FROM documents
    ),
    b2 AS (
      SELECT doc_id + 2000000 AS doc_id,
             CASE WHEN doc_id % 5 = 0
                  THEN replace(text, ' ', 'q ') || ' tail marker tokens'
                  ELSE 'novel document ' || doc_id || ' unrelated content entirely'
             END AS text
      FROM documents
    ),
    uc AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id, text FROM b1),
    tok_c AS (
      SELECT doc_id, unnest({_DOC_TOKS}) AS w,
             generate_subscripts({_DOC_TOKS}, 1) AS pos
      FROM uc
    ),
    tok_n AS (
      SELECT doc_id, unnest({_DOC_TOKS}) AS w,
             generate_subscripts({_DOC_TOKS}, 1) AS pos
      FROM b2
    ),
    sh_c AS (
      SELECT DISTINCT a.doc_id AS id, a.w || ' ' || b.w || ' ' || c.w AS shingle
      FROM tok_c a JOIN tok_c b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
                   JOIN tok_c c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
    ),
    sh_n AS (
      SELECT DISTINCT a.doc_id AS id, a.w || ' ' || b.w || ' ' || c.w AS shingle
      FROM tok_n a JOIN tok_n b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
                   JOIN tok_n c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
    ),
    szc AS (SELECT id, count(*) AS n FROM sh_c GROUP BY 1),
    szn AS (SELECT id, count(*) AS n FROM sh_n GROUP BY 1),
    common AS (
      SELECT x.id AS new_id, y.id AS corpus_id, count(*) AS c
      FROM sh_n x JOIN sh_c y ON x.shingle = y.shingle GROUP BY 1, 2
    )
    SELECT new_id, corpus_id,
           round(c * 1.0 / (szn.n + szc.n - c), 6) AS jaccard
    FROM common
    JOIN szn ON szn.id = new_id
    JOIN szc ON szc.id = corpus_id
    WHERE c * 1.0 / (szn.n + szc.n - c) >= 0.8
    """,
)
def dedup_index_append_gate(spark, sf_dir):
    """Incremental NEAR-DUP index maintenance in the driver gate (the
    MinHash analog of embed_ivf_append_gate): the LSH band-key index is
    persisted from the base corpus, an accepted batch (token-mangled so
    it shares nothing with the base) is folded in via
    dedup.minhash_index_append — one batch-sized banding job + a
    partitioned append, never a corpus re-fingerprint — and a SECOND
    batch's probe over the updated artifact must find exactly the pairs
    the exact all-pairs Jaccard oracle computes against corpus ∪ batch1.
    Every expected pair matches a batch-1 document that lives in the
    index ONLY via the append, so a broken append yields zero pairs."""
    import tempfile

    corpus = _docs(spark, sf_dir)
    b1 = corpus.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.expr("replace(text, ' ', 'q ')").alias("text"),
    )
    b2 = corpus.select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.expr("replace(text, ' ', 'q ')"),
                F.lit(" tail marker tokens"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("novel document "),
                F.col("doc_id").cast("string"),
                F.lit(" unrelated content entirely"),
            )
        )
        .alias("text"),
    )
    work = tempfile.mkdtemp(prefix="mh_append_") + "/index"
    dedup.write_minhash_index(corpus, work)
    dedup.minhash_index_append(b1, work)
    idx, params = dedup.read_minhash_index(spark, work)
    pairs = dedup.incremental_neardup_pairs(
        b2, corpus.select("doc_id", "text").unionByName(b1),
        index=idx, threshold=0.8, **params
    )
    return pairs.withColumn("jaccard", F.round("jaccard", 6))


@q(
    "text_normalize_gate",
    r"""
    WITH messy AS (
      SELECT doc_id,
             '  caf' || 'e' || chr(769) || chr(9) || 'vs caf' || chr(233)
             || ' ' || text || ' A' || chr(778) || ' ' || chr(7) || 'end  '
             AS text
      FROM documents
    )
    SELECT doc_id,
           trim(regexp_replace(
                  regexp_replace(nfc_normalize(text),
                                 '[\x00-\x1F\x7F]', ' ', 'g'),
                  '\s+', ' ', 'g')) AS norm_text,
           length(trim(regexp_replace(
                  regexp_replace(nfc_normalize(text),
                                 '[\x00-\x1F\x7F]', ' ', 'g'),
                  '\s+', ' ', 'g'))) AS n_chars
    FROM messy
    """,
)
def text_normalize_gate(spark, sf_dir):
    """Unicode canonicalization through the gate: every document is wrapped
    in deliberately messy affixes - a DECOMPOSED e+combining-acute (must
    NFC-fold to the composed e-acute and become equal to the composed
    spelling beside it), A+combining-ring, a tab, a BEL control byte, and
    stray space runs - built codepoint-by-codepoint in BOTH engines, then
    normalized by text.normalize_text (Arrow-batched unicodedata NFC +
    codegen control-strip/whitespace-collapse).  The oracle replays it
    with DuckDB's independent nfc_normalize implementation, so the two
    engines' Unicode tables must agree on every document."""
    docs = _docs(spark, sf_dir)
    messy = docs.select(
        "doc_id",
        F.concat(
            F.lit("  caf"),
            F.lit("e\u0301"),
            F.lit("\t"),
            F.lit("vs caf\u00e9 "),
            F.col("text"),
            F.lit(" A\u030a "),
            F.lit("\u0007end  "),
        ).alias("text"),
    )
    out = text.normalize_text(messy)
    return out.select(
        "doc_id",
        F.col("text").alias("norm_text"),
        F.length("text").alias("n_chars"),
    )


@q(
    "pipeline_column_profile",
    """
    SELECT 'doc_id' AS col_name, count(*) AS n_rows,
           count(*) - count(doc_id) AS n_nulls,
           count(DISTINCT doc_id) AS n_distinct,
           CAST(min(doc_id) AS VARCHAR) AS min_value,
           CAST(max(doc_id) AS VARCHAR) AS max_value
    FROM documents
    UNION ALL
    SELECT 'text', count(*), count(*) - count(text), count(DISTINCT text),
           CAST(min(text) AS VARCHAR), CAST(max(text) AS VARCHAR)
    FROM documents
    UNION ALL
    SELECT 'lang', count(*), count(*) - count(lang), count(DISTINCT lang),
           CAST(min(lang) AS VARCHAR), CAST(max(lang) AS VARCHAR)
    FROM documents
    UNION ALL
    SELECT 'source', count(*), count(*) - count(source),
           count(DISTINCT source),
           CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR)
    FROM documents
    UNION ALL
    SELECT 'n_chars', count(*), count(*) - count(n_chars),
           count(DISTINCT n_chars),
           CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR)
    FROM documents
    """,
)
def pipeline_column_profile(spark, sf_dir):
    """Ingest-batch data profiling through the gate: util.profile_columns
    computes rows/NULLs/exact-distinct/min/max for every documents column
    in ONE aggregation job (multi-distinct plans as a single scan with an
    Expand; stack unpivots the one-row result driver-free).  The oracle is
    the straightforward per-column UNION ALL."""
    from .operators.util import profile_columns

    return profile_columns(_docs(spark, sf_dir))


@q(
    "events_daily_anomaly",
    """
    WITH daily AS (
      SELECT event_type AS key, CAST(ts AS DATE) AS day, count(*) AS n_events,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS di
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2, 4
    ),
    win AS (
      SELECT key, day, n_events,
             sum(n_events) OVER w AS s1,
             sum(n_events * n_events) OVER w AS s2,
             count(n_events) OVER w AS n
      FROM daily
      WINDOW w AS (PARTITION BY key ORDER BY di
                   RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING)
    ),
    scored AS (
      SELECT key, day, n_events, coalesce(n, 0) AS baseline_days,
             round(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS baseline_mean,
             CASE WHEN n >= 2 AND
                  (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                   / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) > 0
             THEN round(
               (CAST(n_events AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
               / sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                       / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)), 6)
             END AS z_score
      FROM win
    )
    SELECT key, day, n_events, baseline_days, baseline_mean, z_score,
           coalesce(abs(z_score) > 3.0, FALSE) AS is_anomaly
    FROM scored
    """,
)
def events_daily_anomaly(spark, sf_dir):
    """Ingest-volume anomaly detection (events.daily_anomaly): per
    event-type daily counts z-scored against a trailing 7-day RANGE
    window.  Mean/variance come from integer window sums (two final
    divisions + sqrt are the only float steps), so both engines compute
    identical doubles — stddev aggregates would not.  GROUP BY includes
    the derived day index so the oracle's window frame is on the same
    integer axis as Spark's rangeBetween."""
    from .operators import events as ev_ops

    return ev_ops.daily_anomaly(_events(spark, sf_dir))


@q(
    "events_user_sequences",
    """
    WITH seqs AS (
      SELECT user_id, count(*) AS n_events,
             array_to_string(
               (list(event_type ORDER BY ts, event_id))[1:64], '->'
             ) AS seq
      FROM events WHERE ts IS NOT NULL GROUP BY 1
    )
    SELECT user_id, n_events, seq, md5(seq) AS seq_hash FROM seqs
    """,
)
def events_user_sequences(spark, sf_dir):
    """Behavioral-sequence export (events.user_sequences): each user's
    events in total (ts, event_id) order, first 64 tokens joined — the
    ordering lives inside the aggregated array (sort_array over structs),
    never as a global sort; md5 gives the engine-portable equality handle
    the driver hash leans on."""
    from .operators import events as ev_ops

    return ev_ops.user_sequences(_events(spark, sf_dir))


@q(
    "pipeline_length_deciles",
    """
    WITH ranked AS (
      SELECT doc_id, n_chars,
             row_number() OVER (ORDER BY n_chars, doc_id) AS r,
             count(*) OVER () AS n
      FROM documents
    )
    SELECT doc_id, n_chars, ((r - 1) * 10) // n AS bucket
    FROM ranked
    """,
)
def pipeline_length_deciles(spark, sf_dir):
    """Exact decile bucketing over (n_chars, doc_id) via util.rank_buckets
    — distributed_rank underneath, so the plan never has NTILE's
    single-task global window; assignment is floor((rank−1)·10/n), pure
    integer math the oracle replays with a plain ROW_NUMBER (small data —
    the oracle may use the single-task form; the engine may not)."""
    from .operators.util import rank_buckets

    docs = _docs(spark, sf_dir).select("doc_id", "n_chars")
    return rank_buckets(docs, ["n_chars", "doc_id"], n_buckets=10)


@q(
    "text_cdc_chunks",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DOC_TOKS}) AS w,
             generate_subscripts({_DOC_TOKS}, 1) AS pos
      FROM documents
    ),
    grams AS (
      SELECT a.doc_id, c.pos AS pos,
             a.w || ' ' || b.w || ' ' || c.w AS g
      FROM toks a
      JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      JOIN toks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
    ),
    flags AS (
      SELECT t.doc_id, t.pos, t.w,
             coalesce(
               ((('0x' || substr(md5(g.g), 1, 15))::BIGINT % 8) = 0),
               FALSE) AS boundary
      FROM toks t
      LEFT JOIN grams g ON t.doc_id = g.doc_id AND t.pos = g.pos
    ),
    chunked AS (
      SELECT doc_id, pos, w,
             CAST(coalesce(sum(CASE WHEN boundary THEN 1 ELSE 0 END) OVER
               (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS BIGINT) AS chunk_id
      FROM flags
    )
    SELECT doc_id, chunk_id, CAST(min(pos) AS BIGINT) AS first_pos,
           count(*) AS n_tokens,
           md5(string_agg(w, ' ' ORDER BY pos)) AS chunk_hash
    FROM chunked GROUP BY 1, 2
    """,
)
def text_cdc_chunks(spark, sf_dir):
    """Content-defined chunking through the gate (text.cdc_chunks, k=3,
    divisor=8 → ~8-token chunks): boundaries wherever the trailing
    3-gram's portable hash ≡ 0 (mod 8).  The oracle rebuilds grams with
    positional self-joins, replays the identical boundary hash and running
    chunk sum, and must agree on every chunk's (first_pos, n_tokens, md5)
    — the chunk-level dedup keys."""
    out = text.cdc_chunks(_docs(spark, sf_dir), k=3, divisor=8)
    return out.withColumn("first_pos", F.col("first_pos").cast("long"))


@q(
    "text_script_profile",
    r"""
    WITH messy AS (
      SELECT doc_id, text || ' ' ||
        CASE WHEN doc_id % 3 = 0
             THEN chr(1055)||chr(1088)||chr(1080)||chr(1074)||chr(1077)||chr(1090)
             WHEN doc_id % 3 = 1
             THEN chr(20320)||chr(22909)||chr(12354)
             ELSE '12345' END AS text
      FROM documents
    ),
    counted AS (
      SELECT doc_id,
        length(regexp_replace(text, '\s', '', 'g')) AS n_chars_sig,
        length(text) - length(regexp_replace(text,
          '[A-Za-z\x{00C0}-\x{024F}]', '', 'g')) AS latin_count,
        length(text) - length(regexp_replace(text,
          '[\x{0400}-\x{04FF}]', '', 'g')) AS cyrillic_count,
        length(text) - length(regexp_replace(text,
          '[\x{3040}-\x{30FF}\x{4E00}-\x{9FFF}]', '', 'g')) AS cjk_count,
        length(text) - length(regexp_replace(text,
          '[\x{0600}-\x{06FF}]', '', 'g')) AS arabic_count,
        length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
          AS digit_count
      FROM messy
    )
    SELECT doc_id, n_chars_sig,
      round(CAST(latin_count AS DOUBLE) / greatest(n_chars_sig, 1), 6)
        AS latin_ratio,
      round(CAST(cyrillic_count AS DOUBLE) / greatest(n_chars_sig, 1), 6)
        AS cyrillic_ratio,
      round(CAST(cjk_count AS DOUBLE) / greatest(n_chars_sig, 1), 6)
        AS cjk_ratio,
      round(CAST(arabic_count AS DOUBLE) / greatest(n_chars_sig, 1), 6)
        AS arabic_ratio,
      round(CAST(digit_count AS DOUBLE) / greatest(n_chars_sig, 1), 6)
        AS digit_ratio,
      CASE WHEN latin_count >= greatest(cyrillic_count, cjk_count,
                arabic_count, digit_count) AND latin_count > 0 THEN 'latin'
           WHEN cyrillic_count >= greatest(cjk_count, arabic_count,
                digit_count) AND cyrillic_count > 0 THEN 'cyrillic'
           WHEN cjk_count >= greatest(arabic_count, digit_count)
                AND cjk_count > 0 THEN 'cjk'
           WHEN arabic_count >= digit_count AND arabic_count > 0
                THEN 'arabic'
           WHEN digit_count > 0 THEN 'digit'
           ELSE 'other' END AS dominant_script
    FROM counted
    """,
)
def text_script_profile(spark, sf_dir):
    """Writing-script routing profile (text.script_profile): per-doc
    fractions of Latin/Cyrillic/CJK/Arabic/digit characters + dominant
    script, over documents wearing script-mixed suffixes built
    codepoint-by-codepoint in BOTH engines.  The \\x{...} class ranges
    are the IDENTICAL pattern text in Java regex and RE2, and counting is
    length-difference arithmetic — no tokenization, no explode."""
    docs = _docs(spark, sf_dir)
    cy = "".join(chr(x) for x in [1055, 1088, 1080, 1074, 1077, 1090])
    cjk = "".join(chr(x) for x in [20320, 22909, 12354])
    messy = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" "),
            F.when(F.col("doc_id") % 3 == 0, F.lit(cy))
            .when(F.col("doc_id") % 3 == 1, F.lit(cjk))
            .otherwise(F.lit("12345")),
        ).alias("text"),
    )
    out = text.script_profile(messy)
    return out.select(
        "doc_id",
        F.col("n_chars_sig").cast("long").alias("n_chars_sig"),
        "latin_ratio", "cyrillic_ratio", "cjk_ratio", "arabic_ratio",
        "digit_ratio", "dominant_script",
    )


@q(
    "sketch_distinct_rollup",
    """
    SELECT event_type AS key, count(DISTINCT user_id) AS exact_count,
           TRUE AS within_bound
    FROM events GROUP BY ROLLUP (event_type)
    """,
)
def sketch_distinct_rollup(spark, sf_dir):
    """Mergeable distinct-count rollup (operators.sketches): per-event-type
    HLL sketches of distinct users, with the grand total computed by
    UNIONING the per-type sketches — never rescanning the events table
    (the aggregate-table answer to COUNT(DISTINCT) non-additivity).  The
    hashable claim is the live error-bound assertion: every estimate must
    sit within 3 RSE of the exact count (computed in the same query via
    ROLLUP), and the oracle pins the exact counts + the bound being TRUE.
    """
    from .operators import sketches as sk

    ev = _events(spark, sf_dir)
    roll = sk.distinct_rollup(ev, ["event_type"], "user_id", lg_k=12)
    exact = ev.rollup("event_type").agg(
        F.count_distinct("user_id").alias("exact_count")
    )
    bound = 3.0 * sk.rse(12)
    return (
        roll.join(
            exact,
            roll["event_type"].eqNullSafe(exact["event_type"]),
        )
        .select(
            roll["event_type"].alias("key"),
            "exact_count",
            (
                F.abs(F.col("estimate") - F.col("exact_count"))
                / F.col("exact_count")
                <= bound
            ).alias("within_bound"),
        )
    )


@q(
    "text_repeated_segments_removed",
    """
    WITH messy AS (
      SELECT doc_id,
             substr(text, 1, 40) || '. ' || text || '. ' || substr(text, 1, 40)
               AS text
      FROM documents
    ),
    segs AS (
      SELECT doc_id, seg, pos,
             row_number() OVER (PARTITION BY doc_id, seg ORDER BY pos) AS occ
      FROM (
        SELECT doc_id, unnest(string_split(text, '. ')) AS seg,
               generate_subscripts(string_split(text, '. '), 1) AS pos
        FROM messy
      )
    )
    SELECT doc_id,
           count(*) AS n_segments_in,
           count(*) FILTER (occ = 1) AS n_segments_out,
           string_agg(seg, '. ' ORDER BY pos) FILTER (occ = 1) AS text
    FROM segs GROUP BY 1
    """,
)
def text_repeated_segments_removed(spark, sf_dir):
    """Within-document boilerplate repair (text.remove_repeated_segments):
    each document wears its own first 40 chars as a duplicated leading AND
    trailing segment — the operator must keep exactly the first
    occurrence of every segment in order, as pure array expressions (no
    explode/shuffle); the oracle replays it with a per-(doc, segment)
    occurrence window."""
    docs = _docs(spark, sf_dir)
    messy = docs.select(
        "doc_id",
        F.concat(
            F.substring(F.col("text"), 1, 40), F.lit(". "),
            F.col("text"), F.lit(". "),
            F.substring(F.col("text"), 1, 40),
        ).alias("text"),
    )
    out = text.remove_repeated_segments(messy)
    return out.select(
        "doc_id",
        F.col("n_segments_in").cast("long").alias("n_segments_in"),
        F.col("n_segments_out").cast("long").alias("n_segments_out"),
        "text",
    )


@q(
    "pipeline_incremental_curation",
    f"""
    WITH newdocs AS (
      SELECT doc_id + 1000000 AS doc_id,
             CASE WHEN doc_id % 3 = 0 THEN text
                  ELSE text || ' fresh suffix' END AS text
      FROM documents
    ),
    batchkeep AS (
      SELECT md5(lower(trim(text))) AS f, min(doc_id) AS keep_id,
             count(*) AS dup_count
      FROM newdocs GROUP BY 1
    ),
    surv AS (
      SELECT d.*, k.f, k.dup_count
      FROM newdocs d
      JOIN batchkeep k
        ON md5(lower(trim(d.text))) = k.f AND d.doc_id = k.keep_id
    ),
    quality AS (
      SELECT doc_id, f, dup_count, CAST({{q}} AS DOUBLE) AS q
      FROM surv WHERE ({{reason}}) IS NULL
    ),
    corpus_fp AS (
      SELECT DISTINCT md5(lower(trim(text))) AS cf FROM documents
    ),
    kept AS (
      SELECT doc_id, dup_count, q, {{split_case}} AS split
      FROM quality
      WHERE NOT EXISTS (SELECT 1 FROM corpus_fp WHERE cf = f)
    )
    SELECT split, count(*) AS n_docs,
           CAST(sum(dup_count) AS BIGINT) AS n_dups_absorbed,
           round(avg(q), 6) AS avg_quality,
           md5(string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id)) AS kept_md5
    FROM kept GROUP BY 1
    """.replace("{q}", _QUALITY_SQL).replace("{reason}", _REASON_SQL)
       .replace("{split_case}", _split_case_sql(_CURATE_SPLITS)),
)
def pipeline_incremental_curation(spark, sf_dir):
    """The COMPOSED incremental ingest (pipeline.curate_increment):
    batch-internal exact dedup -> quality rules -> Bloom-prefiltered exact
    dedup against the EXISTING corpus -> hash splits, one plan.  The batch
    is one-third exact corpus copies (must all be rejected, regardless of
    Bloom false positives - verification is exact) and two-thirds fresh
    text; the oracle replays the identical composition with a plain
    NOT EXISTS, so the accepted SET md5 proves the Bloom path changes
    physical strategy only, never membership."""
    from .operators.pipeline import curate_increment

    docs = _docs(spark, sf_dir)
    new = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.when(F.col("doc_id") % 3 == 0, F.col("text"))
        .otherwise(F.concat(F.col("text"), F.lit(" fresh suffix")))
        .alias("text"),
    )
    out = curate_increment(new, docs, split_weights=_CURATE_SPLITS,
                           m_bits=2046, k=4)
    return out.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.sum("dup_count").alias("n_dups_absorbed"),
        F.round(F.avg("quality_score"), 6).cast("double").alias("avg_quality"),
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
            )
        ).alias("kept_md5"),
    )


@q(
    "text_tokens_to_ids",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DOC_TOKS}) AS w,
             generate_subscripts({_DOC_TOKS}, 1) AS pos
      FROM documents
    ),
    counts AS (
      SELECT w AS token, count(*) AS n FROM toks GROUP BY 1
    ),
    vocab AS (
      SELECT token,
             row_number() OVER (ORDER BY n DESC, token) AS rid
      FROM counts QUALIFY rid <= 100
    ),
    encoded AS (
      SELECT t.doc_id,
             count(*) AS n_tokens,
             string_agg(CAST(coalesce(v.rid, 0) AS VARCHAR), ','
                        ORDER BY t.pos) AS ids
      FROM toks t LEFT JOIN vocab v ON t.w = v.token
      GROUP BY 1
    )
    SELECT doc_id, n_tokens, md5(ids) AS ids_md5 FROM encoded
    """,
)
def text_tokens_to_ids(spark, sf_dir):
    """Vocabulary application (text.build_vocab + tokens_to_ids): the top
    100 corpus tokens get frequency-ranked ids (count desc, token asc —
    deterministic), OOV maps to <unk>=0, and every document encodes to its
    id sequence via the inlined-map pure projection.  The oracle replays
    ranking and encoding with a join + ordered string_agg; md5 of the
    joined id list is the cross-engine equality handle."""
    docs = _docs(spark, sf_dir)
    vocab = text.build_vocab(docs, vocab_size=100)
    enc = text.tokens_to_ids(docs, vocab)
    return enc.select(
        "doc_id",
        F.size("token_ids").cast("long").alias("n_tokens"),
        F.md5(
            F.concat_ws(
                ",", F.transform("token_ids", lambda x: x.cast("string"))
            )
        ).alias("ids_md5"),
    )


@q(
    "embed_pq_codes",
    f"""
    WITH en AS (
      SELECT vec_id, {_EMB_D} AS v FROM embeddings
    ),
    seeds AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, v
      FROM en
      WHERE list_dot_product(v, v) > 0
      ORDER BY vec_id LIMIT 8
    ),
    subspace AS (SELECT unnest(range(0, 4)) AS j),
    dists AS (
      SELECT e.vec_id, s.j, c.code,
             list_dot_product(e.v[s.j * 16 + 1 : s.j * 16 + 16],
                              e.v[s.j * 16 + 1 : s.j * 16 + 16])
             - 2 * list_dot_product(e.v[s.j * 16 + 1 : s.j * 16 + 16],
                                    c.v[s.j * 16 + 1 : s.j * 16 + 16])
             + list_dot_product(c.v[s.j * 16 + 1 : s.j * 16 + 16],
                                c.v[s.j * 16 + 1 : s.j * 16 + 16]) AS d
      FROM en e CROSS JOIN subspace s CROSS JOIN seeds c
    ),
    best AS (
      SELECT vec_id, j, code, d,
             row_number() OVER (PARTITION BY vec_id, j
                                ORDER BY d, code) AS rn
      FROM dists
    )
    SELECT vec_id,
           string_agg(CAST(code AS VARCHAR), ',' ORDER BY j) AS codes,
           round(sum(d), 6) AS sq_error
    FROM best WHERE rn = 1
    GROUP BY 1
    """,
)
def embed_pq_codes(spark, sf_dir):
    """Product quantization (similarity.pq_encode, m=4 x k=8 seed
    codebooks — the deterministic ivf_seeds convention per subspace): 64
    doubles become 4 codeword indices, encoded as a PURE projection with
    the squared reconstruction error in the same pass.  Distances
    decompose as |x|^2 - 2 x.c + |c|^2 with sequential-fold dot products,
    so the oracle's replay (cross join over subspaces x codewords,
    argmin by (distance, code)) matches bit-for-bit before rounding.
    pq_train (Lloyd per subspace) is pytest-verified separately — trained
    codewords are per-cell MEANS, which no cross-engine bit guarantee
    survives."""
    emb = _emb(spark, sf_dir)
    cb, sub = similarity.pq_seeds(emb, m=4, k=8)
    enc = similarity.pq_encode(emb, cb, sub)
    return enc.select(
        "vec_id",
        F.concat_ws(
            ",", F.transform("codes", lambda x: x.cast("string"))
        ).alias("codes"),
        F.round("sq_error", 6).alias("sq_error"),
    )


@q(
    "embed_pq_topk",
    f"""
    WITH en AS (
      SELECT vec_id, {_EMB_D} AS v FROM embeddings
    ),
    seeds AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, v
      FROM en
      WHERE list_dot_product(v, v) > 0
      ORDER BY vec_id LIMIT 8
    ),
    subspace AS (SELECT unnest(range(0, 4)) AS j),
    dists AS (
      SELECT e.vec_id, s.j, c.code,
             list_dot_product(e.v[s.j * 16 + 1 : s.j * 16 + 16],
                              e.v[s.j * 16 + 1 : s.j * 16 + 16])
             - 2 * list_dot_product(e.v[s.j * 16 + 1 : s.j * 16 + 16],
                                    c.v[s.j * 16 + 1 : s.j * 16 + 16])
             + list_dot_product(c.v[s.j * 16 + 1 : s.j * 16 + 16],
                                c.v[s.j * 16 + 1 : s.j * 16 + 16]) AS d
      FROM en e CROSS JOIN subspace s CROSS JOIN seeds c
    ),
    best AS (
      SELECT vec_id, j, code, d,
             row_number() OVER (PARTITION BY vec_id, j
                                ORDER BY d, code) AS rn
      FROM dists
    ),
    codes AS (SELECT vec_id, j, code FROM best WHERE rn = 1),
    adc AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             sum(dq.d) AS approx_sq_dist
      FROM (SELECT vec_id FROM en WHERE vec_id IN (0, 100, 200, 300, 400)) q
      JOIN codes c ON c.vec_id <> q.vec_id
      JOIN dists dq ON dq.vec_id = q.vec_id AND dq.j = c.j
                    AND dq.code = c.code
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, round(approx_sq_dist, 6) AS approx_sq_dist
    FROM (
      SELECT query_id, neighbor_id, approx_sq_dist,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY approx_sq_dist, neighbor_id) AS rn
      FROM adc
    ) WHERE rn <= 10
    """,
)
def embed_pq_topk(spark, sf_dir):
    """ADC search over PQ codes (similarity.pq_topk): per-query m x k
    distance tables broadcast against the code table — scoring is m table
    lookups per candidate, the original vectors untouched.  The oracle
    recomputes codes AND reuses the same distance terms for the query-side
    tables (sum over subspaces of d(query_sub, codeword)), so scores match
    bit-for-bit before rounding; ties break by neighbor id.

    NOTE the oracle's sum(dq.d) groups per (query, neighbor) — m=4 doubles
    added in GROUP BY order; the Spark side adds the same 4 lookups in
    fixed column order.  Addition of 4 doubles is associative-safe here
    because each term is exactly reproduced on both engines and the
    magnitudes are uniform; the 6-decimal rounding absorbs nothing."""
    emb = _emb(spark, sf_dir)
    cb, sub = similarity.pq_seeds(emb, m=4, k=8)
    out = similarity.pq_topk(emb, [0, 100, 200, 300, 400], cb, sub, n=10)
    return out.withColumn("approx_sq_dist", F.round("approx_sq_dist", 6))


@q(
    "text_mojibake_gate",
    r"""
    WITH messy AS (
      SELECT doc_id,
             CASE WHEN doc_id % 4 = 0
                  THEN 'caf' || chr(195) || chr(169) || ' ' || text
                  WHEN doc_id % 4 = 1
                  THEN text || ' ' || chr(65533) || chr(65533)
                  ELSE text END AS text
      FROM documents
    )
    SELECT doc_id,
           CAST((length(text) - length(regexp_replace(text,
                 '[\x{00C2}\x{00C3}\x{00C4}\x{00C5}][\x{0080}-\x{00BF}]',
                 '', 'g'))) / 2 AS BIGINT) AS n_mojibake,
           CAST(length(text) - length(regexp_replace(text,
                 '[\x{FFFD}]', '', 'g')) AS BIGINT) AS n_replacement,
           round(
             CAST((length(text) - length(regexp_replace(text,
                   '[\x{00C2}\x{00C3}\x{00C4}\x{00C5}][\x{0080}-\x{00BF}]',
                   '', 'g'))) / 2
                  + length(text) - length(regexp_replace(text,
                    '[\x{FFFD}]', '', 'g')) AS DOUBLE)
             / greatest(length(regexp_replace(text, '\s', '', 'g')), 1),
             6) AS mojibake_ratio
    FROM messy
    """,
)
def text_mojibake_gate(spark, sf_dir):
    """Encoding-damage detection (text.mojibake_features): a quarter of
    the corpus wears the UTF-8-as-Latin-1 double-encoding signature
    ('cafA-tilde-copyright...' built codepoint-by-codepoint in BOTH
    engines), another quarter carries U+FFFD replacement chars; counts and
    ratio must match the oracle's identical codepoint-class length
    arithmetic."""
    docs = _docs(spark, sf_dir)
    moji = "caf" + chr(195) + chr(169) + " "
    repl = " " + chr(65533) + chr(65533)
    messy = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 4 == 0, F.concat(F.lit(moji), F.col("text")))
        .when(F.col("doc_id") % 4 == 1, F.concat(F.col("text"), F.lit(repl)))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    out = text.mojibake_features(messy)
    return out.select("doc_id", "n_mojibake", "n_replacement", "mojibake_ratio")


@q(
    "events_inter_event_stats",
    """
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS us FROM events WHERE ts IS NOT NULL
    ),
    g AS (
      SELECT user_id, us,
             CAST(us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
                  AS DOUBLE) / 1e6 AS gap_s
      FROM e
    ),
    agg AS (
      SELECT user_id, count(*) AS n_events,
             list(gap_s ORDER BY gap_s)
               FILTER (gap_s IS NOT NULL) AS l
      FROM g GROUP BY 1
    )
    SELECT user_id, n_events,
           CAST(len(l) AS BIGINT) AS n_gaps,
           CASE WHEN len(l) > 0
                THEN l[greatest((1 * len(l) + 1) // 2, 1)] END
             AS median_gap_s,
           CASE WHEN len(l) > 0
                THEN l[greatest((9 * len(l) + 9) // 10, 1)] END
             AS p90_gap_s,
           CASE WHEN len(l) > 0 THEN l[len(l)] END AS max_gap_s
    FROM agg
    """,
)
def events_inter_event_stats(spark, sf_dir):
    """Per-user inter-event gap distribution (events.inter_event_stats):
    TYPE-1 median/p90 — an actual element of the sorted per-user gap
    list, picked by pure integer ceil-division index arithmetic (a float
    index product can land a last-ulp apart across engines at exact
    decile boundaries and flip the element; this cannot).  Gap VALUES are
    diffs of a sorted timestamp multiset — deterministic even when
    timestamps tie."""
    from .operators import events as ev_ops

    return ev_ops.inter_event_stats(_events(spark, sf_dir))


@q(
    "pipeline_negative_samples",
    """
    WITH ranked AS (
      SELECT doc_id AS negative_id,
             row_number() OVER (ORDER BY doc_id) AS r
      FROM documents
    ),
    n AS (SELECT count(*) AS c FROM documents),
    anchors AS (
      SELECT doc_id AS anchor_id, unnest(range(0, 4)) AS slot FROM documents
    ),
    t0 AS (
      SELECT anchor_id, slot,
             ('0x' || substr(md5('neg:' || slot || ':' || anchor_id),
                             1, 15))::BIGINT % (SELECT c FROM n) + 1 AS t
      FROM anchors
    ),
    t1 AS (
      SELECT t0.anchor_id, t0.slot,
             CASE WHEN t = own.r THEN t % (SELECT c FROM n) + 1
                  ELSE t END AS t
      FROM t0 JOIN ranked own ON own.negative_id = t0.anchor_id
    )
    SELECT anchor_id, slot, negative_id
    FROM t1 JOIN ranked ON t1.t = ranked.r
    """,
)
def pipeline_negative_samples(spark, sf_dir):
    """Deterministic contrastive negatives (sampling.negative_samples,
    k=4): target ranks from the portable hash of (seed, slot, anchor),
    self-collisions shift one rank forward wrapping — the oracle replays
    rank assignment, hashing and the shift, so every (anchor, slot) must
    map to the identical negative id on both engines."""
    from .operators.sampling import negative_samples

    return negative_samples(_docs(spark, sf_dir), k=4)


@q(
    "text_blocklist_filter",
    """
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                t -> lower(t) IN ('window', 'metric', 'quantile')))
                AS INT) AS n_blocked,
           len(list_filter(string_split_regex(trim(text), '\\s+'),
                t -> lower(t) IN ('window', 'metric', 'quantile'))) <= 1
             AS keep
    FROM documents
    """,
)
def text_blocklist_filter(spark, sf_dir):
    """C4-style term-blocklist pass (text.blocklist_filter): whole-token
    case-insensitive membership counts against an inlined list, keep at
    most max_hits=1 — the oracle replays tokenize → lower → membership
    with list_filter.  Blocklist terms chosen to actually occur in the
    synthetic corpus so both branches of keep are exercised."""
    docs = _docs(spark, sf_dir)
    out = text.blocklist_filter(
        docs, ("window", "metric", "quantile"), max_hits=1
    )
    return out.select("doc_id", "n_blocked", "keep")


@q(
    "text_doc_keywords",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DOC_TOKS}) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS tf
      FROM toks WHERE term <> '' GROUP BY 1, 2
    ),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
             CAST(tf.tf AS DOUBLE) / CAST(dfreq.df AS DOUBLE) AS score
      FROM tf JOIN dfreq USING (term)
    )
    SELECT doc_id, rank, term, tf, df, round(score, 6) AS score
    FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, term) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
)
def text_doc_keywords(spark, sf_dir):
    """Per-document keywords (text.doc_keywords, k=3): tf/df scoring —
    one IEEE integer division, bit-identical across engines where a
    log-idf score would hang top-k membership on ln()'s last ulp at
    ties; ranking breaks ties by term."""
    return text.doc_keywords(_docs(spark, sf_dir), k=3)


@q(
    "embed_cluster_balanced_sample",
    f"""
    WITH en AS (
      SELECT vec_id, {_EMB_D} AS v,
             sqrt(list_dot_product({_EMB_D}, {_EMB_D})) AS nv
      FROM embeddings
      WHERE list_dot_product({_EMB_D}, {_EMB_D}) > 0
    ),
    c AS (SELECT vec_id AS cid, v AS cv, nv AS cn FROM en ORDER BY vec_id LIMIT 8),
    a AS (
      SELECT en.vec_id, c.cid,
             list_dot_product(en.v, c.cv) / (en.nv * c.cn) AS cos,
             row_number() OVER (
               PARTITION BY en.vec_id
               ORDER BY list_dot_product(en.v, c.cv) / (en.nv * c.cn) DESC, c.cid
             ) AS rn
      FROM en CROSS JOIN c
    ),
    assigned AS (SELECT vec_id, cid AS cell, cos FROM a WHERE rn = 1),
    ranked AS (
      SELECT vec_id, cell, cos,
             row_number() OVER (
               PARTITION BY cell ORDER BY cos DESC, vec_id
             ) AS sample_rank
      FROM assigned
    )
    SELECT vec_id, cell, round(cos, 6) AS centroid_cosine, sample_rank
    FROM ranked WHERE sample_rank <= 20
    """,
)
def embed_cluster_balanced_sample(spark, sf_dir):
    """Cluster-balanced (diversity-preserving) corpus sampling
    (similarity.cluster_balanced_sample, by="center"): cap how much of
    any one semantic region enters the training mix — assignment is the
    zero-shuffle inlined-centroid projection, the per-cell cap is one
    window shuffle keyed by cell.  Ranking is on the RAW cosine (both
    engines compute the identical IEEE value: same sequential dot-product
    order), rounded only for display."""
    df = similarity.cluster_balanced_sample(
        _emb(spark, sf_dir), per_cluster=20, n_cells=8
    )
    return df.withColumn("centroid_cosine", F.round("centroid_cosine", 6))


_DSIR_WEIGHTS_SQL = """
    src AS (SELECT doc_id, text FROM documents WHERE source <> 'src0'),
    tgt AS (SELECT text FROM documents WHERE source = 'src0'),
    stoks AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
      FROM src
    ),
    sc AS (
      SELECT doc_id, w, count(*) AS c FROM stoks WHERE w <> '' GROUP BY 1, 2
    ),
    sm AS (SELECT w, CAST(sum(c) AS BIGINT) AS cs FROM sc GROUP BY 1),
    ttoks AS (
      SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w FROM tgt
    ),
    tm AS (SELECT w, count(*) AS ct FROM ttoks WHERE w <> '' GROUP BY 1),
    model AS (
      SELECT coalesce(sm.w, tm.w) AS w,
             coalesce(cs, 0) AS cs, coalesce(ct, 0) AS ct
      FROM sm FULL OUTER JOIN tm ON sm.w = tm.w
    ),
    tot AS (
      SELECT CAST(sum(cs) AS DOUBLE) + 1.0 * CAST(count(*) AS DOUBLE) AS ns,
             CAST(sum(ct) AS DOUBLE) + 1.0 * CAST(count(*) AS DOUBLE) AS nt
      FROM model
    ),
    j AS (
      SELECT sc.doc_id, sc.w, sc.c, model.cs, model.ct
      FROM sc JOIN model USING (w)
    ),
    d AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
             list(struct_pack(c := CAST(c AS DOUBLE),
                              cs := CAST(cs AS DOUBLE),
                              ct := CAST(ct AS DOUBLE)) ORDER BY w) AS cl
      FROM j GROUP BY 1
    ),
    wts AS (
      SELECT doc_id, n_tokens,
             round(list_reduce(
                     list_prepend(CAST(0.0 AS DOUBLE),
                       list_transform(cl, t ->
                         t.c * ln(((t.ct + 1.0) * tot.ns)
                                  / ((t.cs + 1.0) * tot.nt)))),
                     (a, b) -> a + b)
                   / CAST(n_tokens AS DOUBLE), 6) AS log_ratio
      FROM d CROSS JOIN tot
    )
"""


@q(
    "text_importance_weights",
    f"""
    WITH {_DSIR_WEIGHTS_SQL}
    SELECT doc_id, n_tokens, log_ratio FROM wts
    """,
)
def text_importance_weights(spark, sf_dir):
    """DSIR-style data-selection weights (text.importance_weights):
    average per-token log-likelihood ratio of the target domain's
    add-one-smoothed unigram model (docs with source='src0') vs the
    source corpus's own (everything else), union-vocabulary smoothing.
    Terms fold sorted by word on both engines — bit-exact doubles."""
    docs = _docs(spark, sf_dir)
    return text.importance_weights(
        docs.filter("source <> 'src0'"), docs.filter("source = 'src0'")
    )


@q(
    "text_importance_sample_gate",
    f"""
    WITH {_DSIR_WEIGHTS_SQL},
    keyed AS (
      SELECT doc_id, n_tokens, log_ratio,
             log_ratio / 1.0
               - ln(0.0 - ln(
                   (('0x' || substr(md5('dsir|' || CAST(doc_id AS VARCHAR)),
                               1, 8))::BIGINT + 1.0) / 4294967298.0))
               AS gumbel_key
      FROM wts
    )
    SELECT doc_id, n_tokens, log_ratio, round(gumbel_key, 6) AS gumbel_key
    FROM keyed
    ORDER BY keyed.gumbel_key DESC, doc_id LIMIT 40
    """,
)
def text_importance_sample_gate(spark, sf_dir):
    """Deterministic Gumbel-top-k importance resampling over the DSIR
    weights (text.importance_sample): inclusion odds ∝ exp(weight/T)
    with the uniform derived from md5(seed|id) — reproducible on any
    engine, no RNG state; one distributed TakeOrdered, no single-task
    global sort."""
    docs = _docs(spark, sf_dir)
    w = text.importance_weights(
        docs.filter("source <> 'src0'"), docs.filter("source = 'src0'")
    )
    out = text.importance_sample(w, k=40)
    return out.withColumn("gumbel_key", F.round("gumbel_key", 6))


@q(
    "embed_semantic_dedup_gate",
    f"""
    WITH RECURSIVE en AS (
      SELECT vec_id, {_EMB_D} AS v,
             sqrt(list_dot_product({_EMB_D}, {_EMB_D})) AS nv
      FROM embeddings
      WHERE list_dot_product({_EMB_D}, {_EMB_D}) > 0
    ),
    c AS (SELECT vec_id AS cid, v AS cv, nv AS cn FROM en ORDER BY vec_id LIMIT 8),
    a AS (
      SELECT en.vec_id, en.v, en.nv, c.cid,
             row_number() OVER (
               PARTITION BY en.vec_id
               ORDER BY list_dot_product(en.v, c.cv) / (en.nv * c.cn) DESC, c.cid
             ) AS rn
      FROM en CROSS JOIN c
    ),
    probe AS (SELECT vec_id, v, nv, cid AS cell FROM a WHERE rn <= 2),
    pairs AS (
      SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
      FROM probe x JOIN probe y ON x.cell = y.cell AND x.vec_id < y.vec_id
      WHERE list_dot_product(x.v, y.v) / (x.nv * y.nv) >= 0.45
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(node, target) AS (
      SELECT vec_id, vec_id FROM en
      UNION
      SELECT reach.node, edges.dst FROM reach JOIN edges ON edges.src = reach.target
    )
    SELECT node AS id, min(target) AS cluster,
           (node = min(target)) AS keep
    FROM reach GROUP BY 1
    """,
)
def embed_semantic_dedup_gate(spark, sf_dir):
    """SemDeDup at scale (similarity.semantic_dedup): IVF-cell-BLOCKED
    cosine candidate pairs (top-2 multi-probe assignment recovers
    boundary pairs; candidate volume Σ|cell|², never n²) → connected
    components → min-id survivor per semantic family.  The oracle
    reproduces the SAME blocking, so this pins the blocked pipeline
    end-to-end; embed_dedup_keep_list remains the exact-pairs baseline
    the blocked recall is judged against."""
    return similarity.semantic_dedup(
        _emb(spark, sf_dir), threshold=0.45, n_cells=8, n_probe=2
    )


@q(
    "text_importance_hashed_gate",
    """
    WITH src AS (SELECT doc_id, text FROM documents WHERE source <> 'src0'),
    tgt AS (SELECT text FROM documents WHERE source = 'src0'),
    sarr AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\\s+'),
                         w -> w <> '') AS a
      FROM src
    ),
    sfeat AS (
      SELECT doc_id,
             ('0x' || substr(md5(unnest(
                CASE WHEN len(a) >= 2 THEN
                  list_transform(range(2, len(a) + 1),
                                 i -> a[i - 1] || ' ' || a[i])
                ELSE [] END)), 1, 15))::BIGINT % 4096 AS w
      FROM sarr
    ),
    sc AS (SELECT doc_id, w, count(*) AS c FROM sfeat GROUP BY 1, 2),
    sm AS (SELECT w, CAST(sum(c) AS BIGINT) AS cs FROM sc GROUP BY 1),
    tarr AS (
      SELECT list_filter(string_split_regex(trim(text), '\\s+'),
                         w -> w <> '') AS a
      FROM tgt
    ),
    tfeat AS (
      SELECT ('0x' || substr(md5(unnest(
                CASE WHEN len(a) >= 2 THEN
                  list_transform(range(2, len(a) + 1),
                                 i -> a[i - 1] || ' ' || a[i])
                ELSE [] END)), 1, 15))::BIGINT % 4096 AS w
      FROM tarr
    ),
    tm AS (SELECT w, count(*) AS ct FROM tfeat GROUP BY 1),
    model AS (
      SELECT coalesce(sm.w, tm.w) AS w,
             coalesce(cs, 0) AS cs, coalesce(ct, 0) AS ct
      FROM sm FULL OUTER JOIN tm ON sm.w = tm.w
    ),
    tot AS (
      SELECT CAST(sum(cs) AS DOUBLE) + 1.0 * CAST(count(*) AS DOUBLE) AS ns,
             CAST(sum(ct) AS DOUBLE) + 1.0 * CAST(count(*) AS DOUBLE) AS nt
      FROM model
    ),
    j AS (
      SELECT sc.doc_id, sc.w, sc.c, model.cs, model.ct
      FROM sc JOIN model USING (w)
    ),
    d AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
             list(struct_pack(c := CAST(c AS DOUBLE),
                              cs := CAST(cs AS DOUBLE),
                              ct := CAST(ct AS DOUBLE)) ORDER BY w) AS cl
      FROM j GROUP BY 1
    )
    SELECT doc_id, n_tokens,
           round(list_reduce(
                   list_prepend(CAST(0.0 AS DOUBLE),
                     list_transform(cl, t ->
                       t.c * ln(((t.ct + 1.0) * tot.ns)
                                / ((t.cs + 1.0) * tot.nt)))),
                   (a, b) -> a + b)
                 / CAST(n_tokens AS DOUBLE), 6) AS log_ratio
    FROM d CROSS JOIN tot
    """,
)
def text_importance_hashed_gate(spark, sf_dir):
    """The production DSIR form: HASHED-BIGRAM importance weights
    (text.importance_weights with ngram=2, hashed_buckets=4096) — the
    model is a fixed 4096-cell vector regardless of vocabulary, so it
    BROADCASTS to the doc-feature join at any corpus size; bigrams
    capture domain phrasing unigrams miss.  Both engines hash features
    with the same md5-prefix-mod rule, so collisions — the hashing-trick
    trade — are identical."""
    docs = _docs(spark, sf_dir)
    return text.importance_weights(
        docs.filter("source <> 'src0'"), docs.filter("source = 'src0'"),
        ngram=2, hashed_buckets=4096,
    )


@q(
    "streaming_importance_gate",
    """
    WITH src AS (SELECT doc_id, text FROM documents WHERE source <> 'src0'),
    tgt AS (SELECT text FROM documents WHERE source = 'src0'),
    sfeat AS (
      SELECT ('0x' || substr(md5(unnest(
                CASE WHEN len(a) >= 2 THEN
                  list_transform(range(2, len(a) + 1),
                                 i -> a[i - 1] || ' ' || a[i])
                ELSE [] END)), 1, 15))::BIGINT % 4096 AS w
      FROM (SELECT list_filter(string_split_regex(trim(text), '\\s+'),
                               x -> x <> '') AS a FROM src)
    ),
    sm AS (SELECT w, count(*) AS cs FROM sfeat GROUP BY 1),
    tfeat AS (
      SELECT ('0x' || substr(md5(unnest(
                CASE WHEN len(a) >= 2 THEN
                  list_transform(range(2, len(a) + 1),
                                 i -> a[i - 1] || ' ' || a[i])
                ELSE [] END)), 1, 15))::BIGINT % 4096 AS w
      FROM (SELECT list_filter(string_split_regex(trim(text), '\\s+'),
                               x -> x <> '') AS a FROM tgt)
    ),
    tm AS (SELECT w, count(*) AS ct FROM tfeat GROUP BY 1),
    obs AS (
      SELECT coalesce(sm.w, tm.w) AS w,
             coalesce(cs, 0) AS cs, coalesce(ct, 0) AS ct
      FROM sm FULL OUTER JOIN tm ON sm.w = tm.w
    ),
    tot AS (
      SELECT CAST(sum(cs) AS DOUBLE) + 1.0 * CAST(count(*) AS DOUBLE) AS ns,
             CAST(sum(ct) AS DOUBLE) + 1.0 * CAST(count(*) AS DOUBLE) AS nt
      FROM obs
    ),
    dense AS (
      SELECT b.b,
             ln(((coalesce(o.ct, 0) + 1.0) * tot.ns)
                / ((coalesce(o.cs, 0) + 1.0) * tot.nt)) AS lr
      FROM (SELECT unnest(range(0, 4096)) AS b) b
      LEFT JOIN obs o ON o.w = b.b CROSS JOIN tot
    ),
    lrl AS (SELECT list(lr ORDER BY b) AS l FROM dense),
    feats AS (
      SELECT doc_id,
             CASE WHEN len(a) >= 2 THEN
               list_transform(range(2, len(a) + 1),
                 i -> ('0x' || substr(md5(a[i - 1] || ' ' || a[i]), 1, 15))
                        ::BIGINT % 4096)
             ELSE [] END AS bg
      FROM (SELECT doc_id,
                   list_filter(string_split_regex(trim(text), '\\s+'),
                               x -> x <> '') AS a
            FROM documents)
    )
    SELECT doc_id, CAST(len(bg) AS BIGINT) AS n_tokens,
           round(list_reduce(
                   list_prepend(CAST(0.0 AS DOUBLE),
                     list_transform(bg, f -> lrl.l[CAST(f AS INT) + 1])),
                   (x, y) -> x + y) / CAST(len(bg) AS DOUBLE), 6)
             AS log_ratio
    FROM feats CROSS JOIN lrl
    WHERE len(bg) > 0
    """,
)
def streaming_importance_gate(spark, sf_dir):
    """DSIR scoring IN MOTION: train the hashed-bigram model once
    (text.importance_model — a fixed 4096-bucket collect, the
    model-parameter pattern), then score a STREAM of documents with
    text.score_with_model — the packed-literal inline-model projection
    is append-mode safe (no join, no aggregation state), so the same
    expression curates batch corpora and live feeds.  The oracle
    recomputes the full model + per-doc occurrence-order fold in SQL;
    the streamed scores must be bit-exact against it."""
    import tempfile

    docs = _docs(spark, sf_dir)
    model = text.importance_model(
        docs.filter("source <> 'src0'"), docs.filter("source = 'src0'"),
        ngram=2, hashed_buckets=4096,
    )
    work = tempfile.mkdtemp(prefix="stream_dsir_")
    staging = f"{work}/staging"
    docs.select("doc_id", "text").write.mode("overwrite").parquet(staging)
    stream = spark.readStream.schema(
        docs.select("doc_id", "text").schema
    ).parquet(staging)
    scored = text.score_with_model(stream, model)
    name = "stream_dsir_gate"
    spark.catalog.dropTempView(name)
    q_ = (
        scored.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q_.awaitTermination(300)
    return spark.table(name)


# ------------------------------------------------------------- finance

# The oracle replays operators/finance.py's NPV and IRR folds as
# recursive-CTE state machines walking (iteration, position) in order:
# DuckDB 1.0's list_reduce mis-evaluates struct-state lambdas (the
# accumulator's fields are observed one step ahead), so the fold cannot
# be written as a list_reduce.
@q(
    "finance_npv_irr_by_nation",
    """
    WITH RECURSIVE cf AS (
      SELECT nation_name AS grp, list(cf ORDER BY yr) AS cfs FROM (
        SELECT n_name AS nation_name, yr,
               CASE WHEN yr = 1995 THEN -2.0 * rev ELSE rev END AS cf
        FROM (
          SELECT n_name, year(o_orderdate) AS yr,
                 CAST(sum(o_totalprice) AS DOUBLE) AS rev
          FROM orders
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          GROUP BY 1, 2
        )
      ) GROUP BY 1 HAVING count(*) = 7
    ),
    np AS (
      SELECT grp, 0 AS pos, CAST(1.08 AS DOUBLE) AS df,
             CAST(0.0 AS DOUBLE) AS v
      FROM cf
      UNION ALL
      SELECT np.grp, pos + 1, df * (1.0 + CAST(0.08 AS DOUBLE)),
             v + list_extract(cfs, pos + 1) / df
      FROM np JOIN cf USING (grp)
      WHERE pos < len(cfs)
    ),
    it AS (
      SELECT grp, 0 AS n, 0 AS pos,
             CAST(1.0 AS DOUBLE) AS df, CAST(0.0 AS DOUBLE) AS f,
             CAST(0.0 AS DOUBLE) AS fp, CAST(0.1 AS DOUBLE) AS r
      FROM cf
      UNION ALL
      SELECT it.grp,
             CASE WHEN pos < len(cfs) THEN n ELSE n + 1 END AS n,
             CASE WHEN pos < len(cfs) THEN pos + 1 ELSE 0 END AS pos,
             CASE WHEN pos < len(cfs) THEN df * (1.0 + r)
                  ELSE CAST(1.0 AS DOUBLE) END AS df,
             CASE WHEN pos < len(cfs) THEN f + list_extract(cfs, pos + 1) / df
                  ELSE CAST(0.0 AS DOUBLE) END AS f,
             CASE WHEN pos < len(cfs)
                  THEN fp - CAST(pos AS DOUBLE) * list_extract(cfs, pos + 1)
                       / (df * (1.0 + r))
                  ELSE CAST(0.0 AS DOUBLE) END AS fp,
             CASE WHEN pos < len(cfs) THEN r ELSE r - f / fp END AS r
      FROM it JOIN cf USING (grp)
      WHERE n * (len(cfs) + 1) + pos < 40 * (len(cfs) + 1)
    )
    SELECT cf.grp AS nation_name, np.v AS npv, it.r AS irr
    FROM cf
    JOIN np ON np.grp = cf.grp AND np.pos = len(cf.cfs)
    JOIN it ON it.grp = cf.grp AND it.n = 40 AND it.pos = 0
    """,
)
def finance_npv_irr_by_nation(spark, sf_dir):
    """Per-nation investment appraisal straight off the fact table: the
    1995 order revenue (doubled) is the outlay, 1996-2001 revenues the
    inflows; NPV at 8% and IRR per VBA semantics (Vba.nPV/iRR — the
    reference exposes these only to host code because MDX cannot build
    double[] arrays; here they are grouped-cashflow aggregates).  The
    Newton iteration runs as ONE Spark `aggregate` fold inside codegen
    with multiplication-advanced discount factors, and the oracle
    replays the identical + * / sequence as a recursive-CTE state
    machine (DuckDB's list_reduce struct-state is broken in 1.0) —
    bit-exact across all 40 steps including the converged last-ulp
    oscillation."""
    from .operators import finance

    orders = read_parquet_table(spark, f"{sf_dir}/orders.parquet")
    customer = read_parquet_table(spark, f"{sf_dir}/customer.parquet")
    nation = read_parquet_table(spark, f"{sf_dir}/nation.parquet")
    rev = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation_name"),
            F.year("o_orderdate").alias("yr"),
        )
        .agg(F.sum("o_totalprice").cast("double").alias("rev"))
    )
    cfrows = rev.withColumn(
        "cf",
        F.when(F.col("yr") == 1995, F.lit(-2.0) * F.col("rev")).otherwise(
            F.col("rev")
        ),
    )
    series = finance.cashflows(cfrows, ["nation_name"], "yr", "cf").filter(
        F.size("cfs") == 7
    )
    out = finance.with_irr(finance.with_npv(series, 0.08))
    return out.select("nation_name", "npv", "irr")


@q(
    "pipeline_plan_shards",
    r"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(string_split_regex(trim(coalesce(text, '')), '\s+'))
                  AS BIGINT) AS n_tokens,
             ('0x' || substr(md5('shards0:' || doc_id), 1, 15))::BIGINT AS skey
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             CAST(sum(n_tokens) OVER (
               ORDER BY skey, doc_id ROWS UNBOUNDED PRECEDING
             ) AS BIGINT) AS cum_tokens,
             CAST(sum(n_tokens) OVER () AS BIGINT) AS total
      FROM t
    )
    SELECT doc_id, n_tokens, cum_tokens,
           CAST(least((cum_tokens - n_tokens) // ((total + 7) // 8), 7)
                AS BIGINT) AS shard_id
    FROM c
    """,
)
def pipeline_plan_shards(spark, sf_dir):
    """Token-balanced shard planning through the driver gate: documents
    in the content-addressed epoch order are cut into 8 contiguous
    token-budget runs — pipeline.plan_shards computes the INCLUSIVE
    prefix sum via util.distributed_cumsum (range partition +
    per-partition window + broadcast prefix offsets, never a single-task
    global window) and assigns shards by exact integer division; the
    oracle is the plain SQL window.  Pure integer arithmetic — bit-exact
    at any corpus size."""
    from .operators import pipeline as pl

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return pl.plan_shards(docs, num_shards=8, seed="shards0").select(
        "doc_id", "n_tokens", "cum_tokens", "shard_id"
    )


@q(
    "pipeline_shard_summary",
    r"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(string_split_regex(trim(coalesce(text, '')), '\s+'))
                  AS BIGINT) AS n_tokens,
             ('0x' || substr(md5('shards0:' || doc_id), 1, 15))::BIGINT AS skey
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             CAST(sum(n_tokens) OVER (
               ORDER BY skey, doc_id ROWS UNBOUNDED PRECEDING
             ) AS BIGINT) AS cum_tokens,
             CAST(sum(n_tokens) OVER () AS BIGINT) AS total
      FROM t
    ),
    s AS (
      SELECT n_tokens,
             CAST(least((cum_tokens - n_tokens) // ((total + 7) // 8), 7)
                  AS BIGINT) AS shard_id
      FROM c
    )
    SELECT shard_id, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(min(n_tokens) AS BIGINT) AS min_doc_tokens,
           CAST(max(n_tokens) AS BIGINT) AS max_doc_tokens
    FROM s GROUP BY 1
    """,
)
def pipeline_shard_summary(spark, sf_dir):
    """The per-shard balance audit of the same plan (doc count, token
    mass, min/max doc size) — the report a writer checks for stragglers
    before burning I/O on the physical layout."""
    from .operators import pipeline as pl

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return pl.shard_summary(pl.plan_shards(docs, num_shards=8, seed="shards0"))


@q(
    "embed_ann_recall_gate",
    f"""
    WITH en AS (
      SELECT vec_id, {_EMB_D} AS v,
             sqrt(list_dot_product({_EMB_D}, {_EMB_D})) AS nv
      FROM embeddings
      WHERE list_dot_product({_EMB_D}, {_EMB_D}) > 0
    ),
    qv AS (
      SELECT vec_id AS query_id, v AS qvec, nv AS qn FROM en
      WHERE vec_id IN (0, 100, 200, 300, 400)
    ),
    exact AS (
      SELECT query_id, en.vec_id AS neighbor_id
      FROM qv JOIN en ON en.vec_id <> qv.query_id
      QUALIFY row_number() OVER (
        PARTITION BY query_id
        ORDER BY list_dot_product(qvec, v) / (qn * nv) DESC, neighbor_id
      ) <= 10
    ),
    c AS (SELECT vec_id AS cid, v AS cv, nv AS cn FROM en ORDER BY vec_id LIMIT 8),
    a AS (
      SELECT en.vec_id, c.cid,
             row_number() OVER (
               PARTITION BY en.vec_id
               ORDER BY list_dot_product(en.v, c.cv) / (en.nv * c.cn) DESC, c.cid
             ) AS rn
      FROM en CROSS JOIN c
    ),
    cell AS (SELECT vec_id, cid AS cell FROM a WHERE rn = 1),
    probe AS (
      SELECT vec_id AS query_id, cid AS cell FROM a
      WHERE rn <= 2 AND vec_id IN (0, 100, 200, 300, 400)
    ),
    approx AS (
      SELECT p.query_id, ce.vec_id AS neighbor_id
      FROM probe p
      JOIN cell ce ON ce.cell = p.cell AND ce.vec_id <> p.query_id
      JOIN en q ON q.vec_id = p.query_id
      JOIN en n ON n.vec_id = ce.vec_id
      QUALIFY row_number() OVER (
        PARTITION BY p.query_id
        ORDER BY list_dot_product(q.v, n.v) / (q.nv * n.nv) DESC, ce.vec_id
      ) <= 10
    ),
    truth AS (SELECT query_id, count(*) AS n_true FROM exact GROUP BY 1),
    hits AS (
      SELECT e.query_id, count(*) AS n_hit
      FROM exact e JOIN approx x
        ON x.query_id = e.query_id AND x.neighbor_id = e.neighbor_id
      GROUP BY 1
    )
    SELECT truth.query_id, CAST(n_true AS BIGINT) AS n_true,
           CAST(coalesce(n_hit, 0) AS BIGINT) AS n_hit,
           CAST(coalesce(n_hit, 0) AS DOUBLE) / CAST(n_true AS DOUBLE)
             AS recall
    FROM truth LEFT JOIN hits ON hits.query_id = truth.query_id
    """,
)
def embed_ann_recall_gate(spark, sf_dir):
    """Measured recall@10 of the IVF probe path (n_cells=8, n_probe=2)
    against the exact brute-force baseline — similarity.recall_report
    turns the ANN knob choice into a number BEFORE the index ships.
    Both arms are the already-gated operators; the comparison join is
    queries x k rows, so the report costs nothing next to the searches.
    Pure id-set arithmetic (no float hashing) — bit-exact."""
    emb = _emb(spark, sf_dir)
    qids = [0, 100, 200, 300, 400]
    exact = similarity.cosine_topk(emb, qids, k=10)
    approx = similarity.ivf_topk(emb, qids, k=10, n_cells=8, n_probe=2)
    return similarity.recall_report(exact, approx)


@q(
    "documents_quality_cube",
    r"""
    SELECT lang, source,
           count(doc_id) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum(len(string_split_regex(trim(coalesce(text, '')), '\s+')))
                AS BIGINT) AS sum_tokens
    FROM documents GROUP BY CUBE (lang, source)
    """,
)
def documents_quality_cube(spark, sf_dir):
    """The OLAP half of the engine pointed at the PIPELINE's corpus
    table: a cube declared over `documents` with degenerate lang/source
    dimensions and a computed token-count measure, queried through the
    same Query/MDX surface as the TPC-H star — corpus curation metrics
    (docs, chars, tokens by language x source with CUBE super-aggregate
    rows) come out of the exact engine path a BI user drives, not a
    side report.  Shows any table registers as a cube in one
    declaration; the plan is the same single-Expand grouping-sets
    aggregate the plan audit pins for the star rollups."""
    from .model import Cube, Dimension, Level, Measure
    from .query import Query
    from .star import CubeEngine

    cube = Cube(
        name="Corpus",
        fact="documents",
        dimensions=(
            Dimension(name="Lang", levels=(Level("Lang", "lang", output="lang"),)),
            Dimension(
                name="Source",
                levels=(Level("Source", "source", output="source"),),
            ),
        ),
        measures=(
            Measure("N Docs", "doc_id", "count", output="n_docs"),
            Measure("Sum Chars", "n_chars", "sum", output="sum_chars"),
            Measure(
                "Sum Tokens",
                r"size(split(trim(coalesce(text, '')), '\\s+'))",
                "sum",
                output="sum_tokens",
            ),
        ),
    )
    eng = CubeEngine(cube, {"documents": _docs(spark, sf_dir)})
    return (
        Query(eng)
        .columns(
            "[Measures].[N Docs]",
            "[Measures].[Sum Chars]",
            "[Measures].[Sum Tokens]",
        )
        .rows("[Lang].children")
        .crossjoin("[Source].children")
        .totals("cube")
        .execute()
        .df
    )


@q(
    "pipeline_shard_append_gate",
    r"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(string_split_regex(trim(coalesce(text, '')), '\s+'))
                  AS BIGINT) AS n_tokens,
             ('0x' || substr(md5('shards0:' || doc_id), 1, 15))::BIGINT AS skey,
             CASE WHEN source = 'src0' THEN 0 ELSE 1 END AS b
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens, b,
             CAST(sum(n_tokens) OVER (
               PARTITION BY b ORDER BY skey, doc_id ROWS UNBOUNDED PRECEDING
             ) AS BIGINT) AS bcum
      FROM t
    ),
    tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t0 FROM t WHERE b = 0)
    SELECT doc_id, n_tokens,
           CAST(bcum + CASE WHEN b = 1 THEN t0 ELSE 0 END AS BIGINT)
             AS cum_tokens,
           CAST((bcum + CASE WHEN b = 1 THEN t0 ELSE 0 END - n_tokens)
                // 2000 AS BIGINT) AS shard_id
    FROM c CROSS JOIN tot
    """,
)
def pipeline_shard_append_gate(spark, sf_dir):
    """Incremental shard maintenance through the driver gate: batch 1
    (source src0) is planned at target_tokens=2000, its carry-over state
    (two longs) is stored, and batch 2 (the rest) CONTINUES the layout
    via plan_shards_append — the tail shard fills before a new one
    opens, earlier shards untouched, per-batch cost batch-sized (the
    same maintenance contract as bloom/ivf/minhash-index append).  The
    oracle replays both prefix sums with the batch-2 window offset by
    batch 1's total.  Pure integer arithmetic — bit-exact."""
    from .operators import pipeline as pl

    docs = _docs(spark, sf_dir).select("doc_id", "text", "source")
    b1 = docs.filter("source = 'src0'").drop("source")
    b2 = docs.filter("source <> 'src0'").drop("source")
    p1 = pl.plan_shards(b1, target_tokens=2000, seed="shards0")
    state = pl.shard_plan_state(p1, target_tokens=2000)
    p2, _ = pl.plan_shards_append(b2, state, seed="shards0")
    cols = ["doc_id", "n_tokens", "cum_tokens", "shard_id"]
    return p1.select(*cols).unionByName(p2.select(*cols))


@q(
    "dedup_lsh_recall_gate",
    f"""
    WITH {_SHINGLES_SQL},
    common AS (
      SELECT x.id AS id_a, y.id AS id_b, count(*) AS c
      FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.id < y.id
      GROUP BY 1, 2
    ),
    exact AS (
      SELECT id_a, id_b
      FROM common
      JOIN sizes sa ON sa.id = id_a
      JOIN sizes sb ON sb.id = id_b
      WHERE c * 1.0 / (sa.n_sh + sb.n_sh - c) >= 0.8
    )
    SELECT count(*) AS n_true, count(*) AS n_found,
           CAST(1.0 AS DOUBLE) AS recall
    FROM exact
    """,
)
def dedup_lsh_recall_gate(spark, sf_dir):
    """Measured LSH recall through the driver gate: the banded MinHash
    candidate path vs the exact all-pairs Jaccard set at θ=0.8
    (dedup.pair_recall_report).  At the gate knobs (16 hashes, 8 bands)
    the banding miss probability is (1-0.8²)^8 ≈ 7e-4, so the measured
    recall is EXACTLY 1.0 on this corpus — and the oracle asserts that:
    n_found = n_true.  The same report run at weaker knobs (or on a
    corpus sample at production knobs) is how banding choices get
    justified with a number instead of a formula."""
    docs = _docs(spark, sf_dir)
    exact = dedup.jaccard_pairs(docs, threshold=0.8)
    lsh = dedup.minhash_dedup_pairs(docs, threshold=0.8)
    return dedup.pair_recall_report(exact, lsh)


def _bpe_train_oracle_sql(num_merges: int) -> str:
    """Generated DuckDB replay of text.train_bpe: the merge loop
    UNROLLED as one CTE chain per round.  Words are encoded with each
    symbol wrapped as chr(1)||sym||chr(2), so the round's best-pair
    merge is a plain string replace whose non-overlapping left-to-right
    semantics equal the trainer's greedy symbol walk, and multi-char
    symbols can never false-match across boundaries.  Tie-breaks match
    the trainer exactly (count desc, then pair lexicographic)."""
    wrap = "chr(1)||'\\1'||chr(2)"
    sep_trim = "chr(1)||chr(2)"
    sep_mid = "chr(2)||chr(1)"
    pat = text.BPE_SPLIT_PATTERN.replace("'", "''")
    parts = [f"""
w0 AS (
  SELECT w, CAST(count(*) AS BIGINT) AS f FROM (
    SELECT unnest(regexp_extract_all(coalesce(text, ''), '{pat}')) AS w
    FROM documents
  ) WHERE w <> '' GROUP BY 1
),
s0 AS (SELECT w, f, regexp_replace(w, '(.)', {wrap}, 'g') AS s FROM w0)"""]
    for k in range(1, num_merges + 1):
        j = k - 1
        parts.append(f"""
sy{k} AS (SELECT w, f, string_split(trim(s, {sep_trim}), {sep_mid}) AS sy
          FROM s{j}),
px{k} AS MATERIALIZED (
  SELECT w, f, unnest(sy) AS sym, generate_subscripts(sy, 1) AS pos
  FROM sy{k}),
p{k} AS (SELECT a.sym AS sa, b.sym AS sb, sum(a.f) AS c
         FROM px{k} a JOIN px{k} b ON a.w = b.w AND b.pos = a.pos + 1
         GROUP BY 1, 2),
b{k} AS (SELECT sa, sb FROM p{k} ORDER BY c DESC, sa, sb LIMIT 1),
s{k} AS MATERIALIZED (SELECT s{j}.w, s{j}.f,
                replace(s, chr(1)||b.sa||chr(2)||chr(1)||b.sb||chr(2),
                        chr(1)||b.sa||b.sb||chr(2)) AS s
         FROM s{j}, b{k} b)""")
    finals = "\nUNION ALL\n".join(
        f"SELECT CAST({k - 1} AS INT) AS rank, sa AS left, sb AS right, "
        f"sa || sb AS merged FROM b{k}"
        for k in range(1, num_merges + 1)
    )
    return "WITH " + ",".join(parts) + "\n" + finals


@q("text_bpe_train_merges", _bpe_train_oracle_sql(20))
def text_bpe_train_merges(spark, sf_dir):
    """BPE tokenizer training through the driver gate: one corpus-sized
    Spark aggregation builds the pre-token frequency table, the Sennrich
    merge loop runs over that bounded table (<= max_words entries — the
    standard trainer shape: every real BPE trainer iterates the
    word-count dictionary, never the corpus), deterministic end to end
    (count-desc/lexicographic tie-breaks).  The oracle replays the loop
    UNROLLED as 20 generated SQL stages over delimiter-wrapped symbol
    strings — bit-exact merge-for-merge.  apply_bpe (unit-tested, Arrow
    pandas UDF with a per-batch word cache) segments with the result."""
    from .operators import text as t

    merges = t.train_bpe(
        _docs(spark, sf_dir), num_merges=20, min_freq=1, max_words=100_000
    )
    return fsio.tiny_df(
        spark,
        [(i, a, b, a + b) for i, (a, b) in enumerate(merges)],
        "rank INT, left STRING, right STRING, merged STRING",
    )


@q(
    "embed_scatter_covariance",
    f"""
    WITH e AS (
      SELECT vec_id, unnest({_EMB_D}) AS x,
             generate_subscripts(embedding, 1) AS i
      FROM embeddings
    ),
    d AS (SELECT vec_id, i,
                 CAST(floor(x * 10000000000.0 + 0.5) AS DECIMAL(18,0)) AS x
          FROM e),
    p AS (
      SELECT a.i AS i, b.i AS j, count(*) AS n,
             sum(CAST(a.x AS DECIMAL(19,0)) * b.x) AS sp,
             sum(a.x) AS si, sum(b.x) AS sj
      FROM d a JOIN d b ON a.vec_id = b.vec_id AND b.i >= a.i
      GROUP BY 1, 2
    )
    SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j, CAST(n AS BIGINT) AS n,
           CAST(sp AS VARCHAR) AS sum_prod_s,
           CAST(si AS VARCHAR) AS sum_i_s,
           CAST(sj AS VARCHAR) AS sum_j_s
    FROM p
    """,
)
def embed_scatter_covariance(spark, sf_dir):
    """Embedding scatter/covariance through the driver gate — the PCA /
    whitening input: per component pair (upper triangle, 64x65/2 = 2080
    rows), exact decimal-moment sums (components rounded once to
    DECIMAL(18,10); every product/sum exact decimal arithmetic —
    order-independent under any partitioning).  The gate pins the EXACT
    sums as INTEGER-UNIT DECIMAL STRINGS (components quantized once via
    the portable floor(x*1e10 + 0.5) half-up idiom — double->DECIMAL
    casts disagree across engines in the scaled last ulp, IEEE
    multiply/floor do not); the derived covariance double is a
    fixed-order expression on them, unit-tested vs numpy.
    The corpus-sized work map-side combines to a
    constant-size shuffle; the d x d eigendecomposition
    (similarity.pca_components) then runs on BOUNDED data driver-side,
    and project_embeddings applies the basis as a zero-shuffle
    projection."""
    sc = similarity.embedding_scatter(_emb(spark, sf_dir), exact_cols=True)
    return sc.select(
        F.col("i").cast("int").alias("i"),
        F.col("j").cast("int").alias("j"),
        "n",
        F.col("__sp").cast("string").alias("sum_prod_s"),
        F.col("__si").cast("string").alias("sum_i_s"),
        F.col("__sj").cast("string").alias("sum_j_s"),
    )


# ------------------------------------------------------------------ web
# Shared URL synthesis for the web-curation gates: deterministic per
# doc_id, covering every canonicalization rule (case, default/explicit
# ports, userinfo, slash runs, trailing slash, tracking params, unsorted
# params, fragments, unparseable passthrough).
_URLS_SPARK = """
CASE CAST(doc_id % 6 AS INT)
 WHEN 0 THEN 'HTTP://WWW.Example.COM:80//a//' || CAST(doc_id % 5 AS STRING)
          || '/?utm_source=x&b=2&a=1#frag'
 WHEN 1 THEN 'https://news.example.co.uk:443/path/'
          || CAST(doc_id % 7 AS STRING) || '/?gclid=abc'
 WHEN 2 THEN 'https://Blog.Example.com/post/' || CAST(doc_id % 11 AS STRING)
          || '?z=9&a=1&utm_campaign=c&q=' || lang
 WHEN 3 THEN 'http://u:p@example.com'
 WHEN 4 THEN 'HTTPS://Media.example.ORG:8443/x//y/?fbclid=1&q='
          || CAST(doc_id % 3 AS STRING)
 ELSE 'doc:' || CAST(doc_id AS STRING)
END
"""

_URLS_DUCK = """
CASE CAST(doc_id % 6 AS INT)
 WHEN 0 THEN 'HTTP://WWW.Example.COM:80//a//' || CAST(doc_id % 5 AS VARCHAR)
          || '/?utm_source=x&b=2&a=1#frag'
 WHEN 1 THEN 'https://news.example.co.uk:443/path/'
          || CAST(doc_id % 7 AS VARCHAR) || '/?gclid=abc'
 WHEN 2 THEN 'https://Blog.Example.com/post/' || CAST(doc_id % 11 AS VARCHAR)
          || '?z=9&a=1&utm_campaign=c&q=' || lang
 WHEN 3 THEN 'http://u:p@example.com'
 WHEN 4 THEN 'HTTPS://Media.example.ORG:8443/x//y/?fbclid=1&q='
          || CAST(doc_id % 3 AS VARCHAR)
 ELSE 'doc:' || CAST(doc_id AS VARCHAR)
END
"""


def _duck_canon(u: str) -> str:
    """DuckDB replay of web.canonical_url_expr(strip_www=False).

    Dialect deltas vs the Spark expression (semantics identical):
    regexp_replace needs the explicit 'g' flag for the slash-run
    collapse (DuckDB replaces first-only by default; Spark replaces
    all), and array_to_string([]) is NULL where Spark's array_join
    returns '' — hence the coalesce."""
    from .operators.web import TRACKING_PARAM_PATTERN, URL_PATTERN

    scheme = f"lower(regexp_extract({u}, '{URL_PATTERN}', 1))"
    auth = f"regexp_replace(regexp_extract({u}, '{URL_PATTERN}', 2), '^[^@]*@', '')"
    hostname = f"lower(regexp_replace({auth}, ':[0-9]+$', ''))"
    port = f"regexp_extract({auth}, ':([0-9]+)$', 1)"
    port_part = (
        f"CASE WHEN {port} = '' THEN '' "
        f"WHEN {scheme} = 'http' AND {port} = '80' THEN '' "
        f"WHEN {scheme} = 'https' AND {port} = '443' THEN '' "
        f"ELSE ':' || {port} END"
    )
    path = (
        f"regexp_replace(regexp_replace(regexp_extract({u}, '{URL_PATTERN}', 3),"
        f" '/{{2,}}', '/', 'g'), '/+$', '')"
    )
    query = (
        f"coalesce(array_to_string(list_sort(list_filter(string_split("
        f"regexp_extract({u}, '{URL_PATTERN}', 4), '&'), "
        f"p -> p != '' AND NOT regexp_matches(p, '{TRACKING_PARAM_PATTERN}'))), '&'), '')"
    )
    qp = f"CASE WHEN {query} = '' THEN '' ELSE '?' || {query} END"
    return (
        f"CASE WHEN {scheme} = '' THEN trim({u}) ELSE "
        f"{scheme} || '://' || {hostname} || {port_part} || {path} || {qp} END"
    )


def _duck_host(u: str) -> str:
    from .operators.web import URL_PATTERN

    auth = f"regexp_replace(regexp_extract({u}, '{URL_PATTERN}', 2), '^[^@]*@', '')"
    return f"lower(regexp_replace({auth}, ':[0-9]+$', ''))"


def _duck_domain(host: str) -> str:
    from .operators.web import MULTIPART_SUFFIXES

    in_list = ", ".join("'" + s + "'" for s in MULTIPART_SUFFIXES)
    parts = f"string_split({host}, '.')"
    n = f"len({parts})"
    last2 = f"array_to_string(list_slice({parts}, {n} - 1, {n}), '.')"
    last3 = f"array_to_string(list_slice({parts}, {n} - 2, {n}), '.')"
    return (
        f"CASE WHEN {n} < 2 THEN {host} "
        f"WHEN {n} >= 3 AND {last2} IN ({in_list}) THEN {last3} "
        f"ELSE {last2} END"
    )


@q(
    "web_canonical_urls",
    f"""
    WITH u AS (SELECT doc_id, {_URLS_DUCK} AS url FROM documents),
    c AS (SELECT doc_id, {_duck_canon('trim(url)')} AS canonical_url,
                 {_duck_host('trim(url)')} AS host
          FROM u)
    SELECT doc_id, canonical_url, host, {_duck_domain('host')} AS domain
    FROM c
    """,
)
def web_canonical_urls(spark, sf_dir):
    """URL canonicalization through the driver gate (the dedup-key step of
    CCNet/C4-style web curation): every document gets a deterministic
    synthetic URL exercising case folding, default-port and userinfo
    stripping, slash-run collapse, trailing-slash removal, tracking-param
    drop + residual-param SORT, fragment drop, and the unparseable-input
    passthrough.  web.canonical_url_expr runs it all as ONE codegen
    projection (zero shuffles, zero UDFs); the oracle replays the same
    regex pipeline in DuckDB (RE2) — the two engines' regex and string
    semantics must agree byte-for-byte on every URL."""
    from .operators import web

    docs = _docs(spark, sf_dir).selectExpr(
        "doc_id", f"({_URLS_SPARK}) AS url"
    )
    out = web.with_host(web.canonicalize_urls(docs), "url")
    return out.select("doc_id", "canonical_url", "host", "domain")


@q(
    "web_host_cap_gate",
    """
    WITH u AS (
      SELECT doc_id,
             'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS host
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, host,
             row_number() OVER (
               PARTITION BY host
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS host_rank
      FROM u
    )
    SELECT doc_id, host, host_rank FROM ranked WHERE host_rank <= 3
    """,
)
def web_host_cap_gate(spark, sf_dir):
    """Per-host contribution caps (RefinedWeb-style): 500 documents hash
    into 7 hosts; web.cap_per_host keeps exactly 3 per host, ranked by the
    content-addressed md5-of-id — a reproducible pseudo-random sample
    that is provably independent of partitioning/layout (the adversarial-
    layout sweep re-checks this entry).  One host-keyed shuffle + a
    per-host row_number; the oracle is the plain SQL window."""
    from .operators import web

    docs = _docs(spark, sf_dir).selectExpr(
        "doc_id",
        "'https://H' || CAST(doc_id % 7 AS STRING) || '.Example.COM/p/'"
        " || CAST(doc_id AS STRING) AS url",
    )
    capped = web.cap_per_host(docs, 3, "url")
    return capped.select("doc_id", "host", "host_rank")


@q(
    "web_host_profile",
    f"""
    WITH u AS (SELECT doc_id, text, {_URLS_DUCK} AS url FROM documents),
    c AS (SELECT doc_id, text, {_duck_host('trim(url)')} AS host,
                 {_duck_canon('trim(url)')} AS curl
          FROM u)
    SELECT host, count(*) AS n_docs, count(DISTINCT curl) AS n_urls,
           CAST(sum(length(text)) AS BIGINT) AS total_chars
    FROM c GROUP BY host
    """,
)
def web_host_profile(spark, sf_dir):
    """Host-level corpus observability: per-host document count, distinct
    CANONICAL urls (so tracking-param noise never inflates the URL count)
    and total characters — the aggregate behind host-cap and blocklist
    decisions.  One aggregation shuffle over the canonicalization
    projection."""
    from .operators import web

    docs = _docs(spark, sf_dir).selectExpr(
        "doc_id", "text", f"({_URLS_SPARK}) AS url"
    )
    return web.host_profile(docs, "url")


@q(
    "text_line_dedup_gate",
    """
    WITH docs AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
      FROM documents
    ),
    words AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(ws) + 1),
                    i -> struct_pack(pos := i, w := ws[i]))) AS u
      FROM docs
    ),
    lines AS (
      SELECT doc_id, (u.pos - 1) // 6 AS ln,
             string_agg(u.w, ' ' ORDER BY u.pos) AS line
      FROM words GROUP BY 1, 2
    ),
    bp AS (
      SELECT line FROM lines GROUP BY line
      HAVING count(DISTINCT doc_id) >= 3
    ),
    marked AS (
      SELECT l.doc_id, l.ln, l.line, b.line IS NOT NULL AS is_bp
      FROM lines l LEFT JOIN bp b ON l.line = b.line
    )
    SELECT doc_id,
           coalesce(string_agg(CASE WHEN NOT is_bp THEN line END,
                               chr(10) ORDER BY ln), '') AS clean_text,
           count(*) AS n_lines,
           CAST(sum(CASE WHEN is_bp THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
    FROM marked GROUP BY doc_id
    """,
)
def text_line_dedup_gate(spark, sf_dir):
    """Cross-document boilerplate-line removal through the gate (the
    CCNet / RefinedWeb rule; the corpus has no newlines, so each document
    is first regrouped into 6-word lines IDENTICALLY in both engines —
    6-word phrases genuinely repeat across this corpus).  Lines appearing
    in >= 3 distinct documents are removed from EVERY document;
    text.line_dedup reassembles the survivors in order (one explode + one
    line-keyed doc-frequency aggregate + an equi-join + one doc-keyed
    regroup — aggregate-then-join, never a window over the line key, so
    hot boilerplate stays splittable).  The oracle replays line grouping,
    frequency, and reassembly in plain SQL."""
    docs = _docs(spark, sf_dir).selectExpr(
        "doc_id",
        """
        array_join(transform(
          sequence(0, CAST(ceil(size(split(trim(text), '\\\\s+')) / 6.0) AS INT) - 1),
          i -> array_join(slice(split(trim(text), '\\\\s+'), i * 6 + 1, 6), ' ')
        ), '\n') AS text
        """,
    )
    return text.line_dedup(docs, min_docs=3)


def _perceptron_oracle(iters: int, buckets: int) -> str:
    """DuckDB replay of train_quality_perceptron + score_with_perceptron:
    the training iterations UNROLLED as CTE stages (all-integer
    arithmetic, so every stage is exact).  Early exit needs no special
    casing — a converged perceptron has all-zero errors, so further
    unrolled iterations add zero gradient and the final weights match the
    early-exited trainer bit-for-bit."""
    label = "CASE WHEN ' ' || trim(text) || ' ' LIKE '% window %' THEN 1 ELSE 0 END"
    parts = [
        f"""
    feats AS (
      SELECT doc_id,
             (('0x' || substr(md5(w), 1, 15))::BIGINT % {buckets}) AS bucket
      FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
            FROM documents WHERE doc_id % 3 = 0) t
      WHERE w != ''
    ),
    labels AS (
      SELECT doc_id, {label} AS y FROM documents WHERE doc_id % 3 = 0
    ),
    e1 AS (SELECT doc_id, y AS err FROM labels),
    w1 AS (SELECT f.bucket, sum(e.err) AS w
           FROM feats f JOIN e1 e USING (doc_id) GROUP BY 1),
    b1 AS (SELECT coalesce(sum(err), 0) AS bias FROM e1)"""
    ]
    for t in range(2, iters + 1):
        p = t - 1
        parts.append(f"""
    m{t} AS (
      SELECT l.doc_id, l.y,
             (SELECT bias FROM b{p}) + coalesce(sum(w{p}.w), 0) AS z
      FROM labels l
      LEFT JOIN feats f ON f.doc_id = l.doc_id
      LEFT JOIN w{p} ON w{p}.bucket = f.bucket
      GROUP BY 1, 2
    ),
    e{t} AS (SELECT doc_id, y - (CASE WHEN z > 0 THEN 1 ELSE 0 END) AS err
             FROM m{t}),
    d{t} AS (SELECT f.bucket, sum(e.err) AS g
             FROM feats f JOIN e{t} e USING (doc_id) GROUP BY 1),
    w{t} AS (SELECT coalesce(w{p}.bucket, d{t}.bucket) AS bucket,
                    coalesce(w{p}.w, 0) + coalesce(d{t}.g, 0) AS w
             FROM w{p} FULL OUTER JOIN d{t} ON w{p}.bucket = d{t}.bucket),
    b{t} AS (SELECT (SELECT bias FROM b{p}) + coalesce(sum(err), 0) AS bias
             FROM e{t})""")
    parts.append(f"""
    allfeats AS (
      SELECT doc_id,
             (('0x' || substr(md5(w), 1, 15))::BIGINT % {buckets}) AS bucket
      FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
            FROM documents) t
      WHERE w != ''
    ),
    scored AS (
      SELECT d.doc_id,
             (SELECT bias FROM b{iters}) + coalesce(sum(w{iters}.w), 0) AS margin
      FROM documents d
      LEFT JOIN allfeats f ON f.doc_id = d.doc_id
      LEFT JOIN w{iters} ON w{iters}.bucket = f.bucket
      GROUP BY 1
    )
    SELECT doc_id, CAST(margin AS BIGINT) AS margin,
           CAST(CASE WHEN margin > 0 THEN 1 ELSE 0 END AS INT) AS prediction
    FROM scored""")
    return "WITH " + ",".join(parts)


@q("text_perceptron_gate", _perceptron_oracle(iters=3, buckets=64))
def text_perceptron_gate(spark, sf_dir):
    """Trainable quality classifier through the gate: a batch perceptron
    over hashed unigram counts (64 buckets, 3 full-batch iterations,
    labels = 'document mentions window') trained on the doc_id%3==0
    subset, then scoring ALL documents.  Training is all-INTEGER — the
    gradient is a plain integer sum, so the trained weights are provably
    independent of partitioning/cores/AQE (the distributed-SGD
    reproducibility problem never arises), and the oracle can replay the
    exact iterations as unrolled SQL stages.  Per iteration: one scan
    (margins fold through packed-literal weights — zero join) + one
    bounded (<= buckets+1 row) gradient collect; scoring is a pure
    zero-shuffle projection that also runs on streaming frames."""
    docs = _docs(spark, sf_dir)
    train = docs.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id",
        "text",
        F.expr(
            "CASE WHEN ' ' || trim(text) || ' ' LIKE '% window %' "
            "THEN 1 ELSE 0 END"
        ).alias("label"),
    )
    model = text.train_quality_perceptron(
        train, hashed_buckets=64, iterations=3
    )
    return text.score_with_perceptron(docs, model)


@q(
    "dedup_ngram_collision_gate",
    """
    WITH corp AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
      FROM documents
    ),
    held AS (
      SELECT doc_id + 1000000 AS doc_id, ws
      FROM corp WHERE doc_id % 10 = 0
    ),
    cg AS (
      SELECT DISTINCT c.doc_id AS cid,
             ('0x' || substr(md5(array_to_string(
                list_slice(c.ws, i, i + 7), ' ')), 1, 15))::BIGINT AS h
      FROM corp c, unnest(range(1, greatest(len(c.ws) - 7, 0) + 1)) AS t(i)
    ),
    hg AS (
      SELECT DISTINCT hd.doc_id AS hid,
             ('0x' || substr(md5(array_to_string(
                list_slice(hd.ws, i, i + 7), ' ')), 1, 15))::BIGINT AS h
      FROM held hd, unnest(range(1, greatest(len(hd.ws) - 7, 0) + 1)) AS t(i)
    ),
    totals AS (SELECT cid, count(*) AS n_grams FROM cg GROUP BY 1),
    hits AS (
      SELECT cg.cid, count(DISTINCT cg.h) AS n_shared,
             count(DISTINCT hg.hid) AS n_heldout_docs
      FROM cg JOIN hg ON cg.h = hg.h GROUP BY 1
    )
    SELECT h.cid AS doc_id, t.n_grams, h.n_shared, h.n_heldout_docs
    FROM hits h JOIN totals t ON t.cid = h.cid
    """,
)
def dedup_ngram_collision_gate(spark, sf_dir):
    """Eval-set decontamination by EXACT n-gram collision (the GPT-3-style
    '13-gram rule', here n=8): the held-out set is every 10th document
    verbatim, so each of those training documents must be flagged with
    ALL its 8-grams shared — plus any organic cross-document 8-gram
    collisions the corpus happens to contain (the oracle computes the
    same truth independently).  dedup.ngram_collision_report hashes every
    gram to the portable md5-prefix BIGINT before the cross-corpus join
    (8-byte shuffle keys, join only over grams present on both sides);
    documents shorter than n have no grams and can never collide."""
    corpus = _docs(spark, sf_dir)
    heldout = corpus.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return dedup.ngram_collision_report(corpus, heldout, n=8)


@q(
    "sketch_histogram_quantiles",
    """
    WITH h AS (
      SELECT l_returnflag,
             least(31, greatest(0, CAST(floor(
               (CAST(l_extendedprice AS DOUBLE) - 900.0)
               / (105000.0 - 900.0) * 32) AS INT))) AS bin,
             count(*) AS n
      FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1, 2
    ),
    c AS (
      SELECT l_returnflag, bin, n,
             sum(n) OVER (PARTITION BY l_returnflag ORDER BY bin) AS cum,
             sum(n) OVER (PARTITION BY l_returnflag) AS n_total
      FROM h
    ),
    r AS (
      SELECT l_returnflag, p.percent, min(bin) AS bin,
             min(n_total) AS n_total
      FROM c, (SELECT unnest([25, 50, 90, 99]) AS percent) p
      WHERE cum * 100 >= p.percent * n_total
      GROUP BY 1, 2
    )
    SELECT l_returnflag, CAST(percent AS INT) AS percent, CAST(bin AS INT) AS bin,
           900.0 + bin * ((105000.0 - 900.0) / 32) AS lower_edge,
           900.0 + (bin + 1) * ((105000.0 - 900.0) / 32) AS upper_edge,
           CAST(n_total AS BIGINT) AS n_total
    FROM r
    """,
)
def sketch_histogram_quantiles(spark, sf_dir):
    """Mergeable fixed-bin histogram + quantiles through the gate: the
    deterministic, engine-portable alternative to percentile_approx —
    l_extendedprice binned into 32 buckets per return flag (one bounded
    aggregation, map-side combined), then p25/p50/p90/p99 located by the
    PURE-INTEGER type-1 target (100·cum ≥ p·n — a bin choice that can
    never flip on a float rounding boundary).  Error is bounded by one
    bin width; the summary is groups × bins rows at ANY fact size and
    merges by summing counts, which is what makes it maintainable
    (:func:`sketch_histogram_append_gate` pins the append path)."""
    from .operators import sketches

    fact = read_parquet_table(spark, f"{sf_dir}/lineitem.parquet")
    hist = sketches.value_histogram(
        fact, "l_extendedprice", 900.0, 105000.0, 32,
        group_cols=["l_returnflag"],
    )
    return sketches.histogram_quantiles(
        hist, 900.0, 105000.0, 32, [25, 50, 90, 99],
        group_cols=["l_returnflag"],
    )


@q(
    "sketch_histogram_append_gate",
    """
    WITH h AS (
      SELECT lang,
             least(15, greatest(0, CAST(floor(
               (CAST(n_chars AS DOUBLE) - 0.0) / (600.0 - 0.0) * 16)
               AS INT))) AS bin,
             count(*) AS n
      FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2
    ),
    c AS (
      SELECT lang, bin, n,
             sum(n) OVER (PARTITION BY lang ORDER BY bin) AS cum,
             sum(n) OVER (PARTITION BY lang) AS n_total
      FROM h
    ),
    r AS (
      SELECT lang, p.percent, min(bin) AS bin, min(n_total) AS n_total
      FROM c, (SELECT unnest([50, 95]) AS percent) p
      WHERE cum * 100 >= p.percent * n_total
      GROUP BY 1, 2
    )
    SELECT lang, CAST(percent AS INT) AS percent, CAST(bin AS INT) AS bin,
           0.0 + bin * ((600.0 - 0.0) / 16) AS lower_edge,
           0.0 + (bin + 1) * ((600.0 - 0.0) / 16) AS upper_edge,
           CAST(n_total AS BIGINT) AS n_total
    FROM r
    """,
)
def sketch_histogram_append_gate(spark, sf_dir):
    """Histogram-artifact MAINTENANCE through the gate (the quantile
    member of the bloom/ivf/minhash/refresh append family): the
    doc_id%2==0 half of the corpus is persisted as a histogram artifact,
    the other half folds in via sketches.histogram_append — one
    batch-sized aggregation + an artifact-sized merge, never a corpus
    rescan, binned with the ARTIFACT's own parameters — and the
    quantiles served from the maintained artifact must equal the oracle
    computed over the WHOLE corpus in one pass (merge ≡ rebuild,
    bit-exact, including the crash-safe swap rewrite)."""
    import tempfile

    from .operators import sketches

    docs = _docs(spark, sf_dir)
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)
    path = tempfile.mkdtemp(prefix="hist_append_") + "/hist"
    ha = sketches.value_histogram(a, "n_chars", 0.0, 600.0, 16, ["lang"])
    sketches.write_histogram(ha, path, 0.0, 600.0, 16, ["lang"])
    sketches.histogram_append(b, path, "n_chars")
    hist, p = sketches.read_histogram(spark, path)
    return sketches.histogram_quantiles(
        hist, p["lo"], p["hi"], p["bins"], [50, 95],
        group_cols=p["group_cols"],
    )


@q(
    "events_scd2_enrich",
    """
    WITH segs AS (SELECT unnest(range(0, 50)) AS seg),
    dim AS (
      SELECT seg, 1 AS v, TIMESTAMP '2024-01-01 00:00:00' AS valid_from,
             TIMESTAMP '2024-01-10 00:00:00' AS valid_to,
             seg * 100 + 1 AS tier
      FROM segs
      UNION ALL
      SELECT seg, 2, TIMESTAMP '2024-01-10 00:00:00',
             CASE WHEN seg % 7 = 0 THEN TIMESTAMP '2024-01-15 00:00:00'
                  ELSE TIMESTAMP '2024-01-20 00:00:00' END,
             seg * 100 + 2
      FROM segs
      UNION ALL
      SELECT seg, 3, TIMESTAMP '2024-01-20 00:00:00', NULL, seg * 100 + 3
      FROM segs
    ),
    cand AS (
      SELECT e.event_id, e.user_id % 50 AS seg, e.ts, d.tier, d.valid_to,
             row_number() OVER (
               PARTITION BY e.event_id ORDER BY d.valid_from DESC
             ) AS rn
      FROM events e
      JOIN dim d ON d.seg = e.user_id % 50 AND d.valid_from <= e.ts
      WHERE e.ts IS NOT NULL
    )
    SELECT event_id, seg,
           CASE WHEN valid_to IS NOT NULL AND ts >= valid_to THEN NULL
                ELSE tier END AS tier_dim
    FROM cand WHERE rn = 1
    """,
)
def events_scd2_enrich(spark, sf_dir):
    """SCD Type-2 point-in-time enrichment through the gate: a versioned
    dimension (3 versions per segment; every 7th segment's v2 ends early,
    leaving a 5-day COVERAGE GAP before v3) joined to the events fact at
    event time.  events.scd2_enrich resolves the version via the
    union+window as-of (ONE shuffle, zero join operators — the scalable
    alternative to Spark's broadcast-nested-loop BETWEEN join) and nulls
    attributes whose version had already expired — gap events must read
    NULL, never the stale v2 (the classic SCD2 join bug the oracle's
    explicit BETWEEN replay would catch)."""
    from .operators.events import scd2_enrich

    events = read_parquet_table(spark, f"{sf_dir}/events.parquet").filter(
        F.col("ts").isNotNull()
    )
    facts = events.select(
        "event_id", (F.col("user_id") % 50).alias("seg"), "ts"
    )
    segs = spark.range(0, 50).select(F.col("id").cast("long").alias("seg"))
    dim = (
        segs.selectExpr(
            "seg", "1 AS v", "TIMESTAMP '2024-01-01 00:00:00' AS valid_from",
            "TIMESTAMP '2024-01-10 00:00:00' AS valid_to",
            "seg * 100 + 1 AS tier",
        )
        .unionByName(segs.selectExpr(
            "seg", "2 AS v",
            "TIMESTAMP '2024-01-10 00:00:00' AS valid_from",
            "CASE WHEN seg % 7 = 0 THEN TIMESTAMP '2024-01-15 00:00:00' "
            "ELSE TIMESTAMP '2024-01-20 00:00:00' END AS valid_to",
            "seg * 100 + 2 AS tier",
        ))
        .unionByName(segs.selectExpr(
            "seg", "3 AS v",
            "TIMESTAMP '2024-01-20 00:00:00' AS valid_from",
            "CAST(NULL AS TIMESTAMP) AS valid_to", "seg * 100 + 3 AS tier",
        ))
    )
    out = scd2_enrich(
        facts, dim, key="seg", fact_ts="ts", value_cols=["tier"]
    )
    return out.select("event_id", "seg", "tier_dim")


@q(
    "text_line_stats_append_gate",
    """
    WITH docs AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
      FROM documents
    ),
    words AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(ws) + 1),
                    i -> struct_pack(pos := i, w := ws[i]))) AS u
      FROM docs
    ),
    lines AS (
      SELECT doc_id, (u.pos - 1) // 6 AS ln,
             string_agg(u.w, ' ' ORDER BY u.pos) AS line
      FROM words GROUP BY 1, 2
    ),
    bp AS (
      SELECT line FROM lines GROUP BY line
      HAVING count(DISTINCT doc_id) >= 3
    ),
    probe AS (SELECT * FROM lines WHERE doc_id % 5 = 0),
    marked AS (
      SELECT p.doc_id, p.ln, p.line, b.line IS NOT NULL AS is_bp
      FROM probe p LEFT JOIN bp b ON p.line = b.line
    )
    SELECT doc_id,
           coalesce(string_agg(CASE WHEN NOT is_bp THEN line END,
                               chr(10) ORDER BY ln), '') AS clean_text,
           count(*) AS n_lines,
           CAST(sum(CASE WHEN is_bp THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
    FROM marked GROUP BY doc_id
    """,
)
def text_line_stats_append_gate(spark, sf_dir):
    """Line-dedup MAINTENANCE through the gate: the corpus line-frequency
    table is persisted from the doc_id%2==0 half, the other half folds in
    via text.line_stats_append (batch-sized count aggregation +
    artifact-sized merge — exact because batches carry disjoint document
    sets), and a probe batch (every 5th document) is then cleaned against
    the MAINTAINED artifact with line_dedup_with_stats.  The oracle
    computes corpus-wide boilerplate in one pass over the WHOLE corpus —
    so a broken append (double count, lost line) changes which lines
    cross the min_docs=3 threshold and the probe's cleaned text
    diverges."""
    import tempfile

    lined = _docs(spark, sf_dir).selectExpr(
        "doc_id",
        """
        array_join(transform(
          sequence(0, CAST(ceil(size(split(trim(text), '\\\\s+')) / 6.0) AS INT) - 1),
          i -> array_join(slice(split(trim(text), '\\\\s+'), i * 6 + 1, 6), ' ')
        ), '\n') AS text
        """,
    )
    path = tempfile.mkdtemp(prefix="linestats_") + "/ls"
    text.write_line_stats(lined.filter(F.col("doc_id") % 2 == 0), path)
    text.line_stats_append(lined.filter(F.col("doc_id") % 2 == 1), path)
    probe = lined.filter(F.col("doc_id") % 5 == 0)
    return text.line_dedup_with_stats(probe, path, min_docs=3)


@q(
    "web_curation_chain_gate",
    f"""
    WITH u AS (SELECT doc_id, text, {_URLS_DUCK} AS url FROM documents),
    c AS (SELECT doc_id, text, {_duck_canon('trim(url)')} AS curl,
                 {_duck_host('trim(url)')} AS host
          FROM u),
    keepurl AS (
      SELECT curl, min(doc_id) AS keep_id, count(*) AS url_copies
      FROM c GROUP BY 1
    ),
    survu AS (
      SELECT c.* FROM c JOIN keepurl k
      ON c.curl = k.curl AND c.doc_id = k.keep_id
    ),
    keepfp AS (
      SELECT md5(lower(trim(text))) AS f, min(doc_id) AS keep_id
      FROM survu GROUP BY 1
    ),
    survc AS (
      SELECT s.* FROM survu s JOIN keepfp k
      ON md5(lower(trim(s.text))) = k.f AND s.doc_id = k.keep_id
    ),
    quality AS (
      SELECT doc_id, host FROM survc WHERE ({{reason}}) IS NULL
    ),
    capped AS (
      SELECT doc_id, host,
             row_number() OVER (
               PARTITION BY host
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS host_rank
      FROM quality
    )
    SELECT host, count(*) AS n_kept,
           md5(string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id)) AS kept_md5
    FROM capped WHERE host_rank <= 5 GROUP BY host
    """.replace("{reason}", _REASON_SQL),
)
def web_curation_chain_gate(spark, sf_dir):
    """The COMPOSED web-curation pipeline through the gate
    (web.curate_web_corpus): canonical-URL dedup (tracking/case/port
    variants of one page collapse BEFORE any content hashing; the
    synthetic URL matrix maps many documents onto shared canonical
    forms) → content curation (exact dedup → Gopher quality rules) →
    per-host cap of 5.  Per host: survivor count + an md5 over the kept
    doc-id set — the oracle replays the identical four-stage
    composition, so an exact match proves the stages chain
    deterministically end to end (stage order matters: a min-id survivor
    dropped by URL dedup must never reappear via content dedup)."""
    from .operators import web

    docs = _docs(spark, sf_dir).selectExpr(
        "doc_id", "text", f"({_URLS_SPARK}) AS url"
    )
    out = web.curate_web_corpus(docs, max_per_host=5)
    return out.groupBy("host").agg(
        F.count("*").alias("n_kept"),
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
            )
        ).alias("kept_md5"),
    )


@q(
    "dedup_substring_spans_gate",
    """
    WITH corp AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
      FROM documents
    ),
    g AS (
      SELECT c.doc_id AS id, i AS pos,
             ('0x' || substr(md5(array_to_string(
                list_slice(c.ws, i, i + 7), ' ')), 1, 15))::BIGINT AS h
      FROM corp c, unnest(range(1, greatest(len(c.ws) - 7, 0) + 1)) AS t(i)
    ),
    d AS (
      SELECT h, count(*) AS cnt, min(ROW(id, pos)) AS keeper
      FROM g GROUP BY 1 HAVING count(*) >= 2
    ),
    flagged AS (
      SELECT DISTINCT g.id, g.pos
      FROM g JOIN d USING (h)
      WHERE ROW(g.id, g.pos) <> d.keeper
    ),
    marked AS (
      SELECT id, pos,
             max(pos + 7) OVER (PARTITION BY id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max_end
      FROM flagged
    ),
    islands AS (
      SELECT id, pos,
             sum(CASE WHEN prev_max_end IS NULL OR pos > prev_max_end + 1
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY id ORDER BY pos) AS island
      FROM marked
    ),
    spans AS (
      SELECT id AS doc_id, island, min(pos) AS start_tok,
             max(pos) + 7 AS end_tok
      FROM islands GROUP BY 1, 2
    ),
    toks AS (
      SELECT c.doc_id, i, c.ws[i] AS tok
      FROM corp c, unnest(range(1, len(c.ws) + 1)) AS t(i)
    ),
    kept AS (
      SELECT t.doc_id, t.i, t.tok
      FROM toks t
      WHERE NOT EXISTS (
        SELECT 1 FROM spans s
        WHERE s.doc_id = t.doc_id AND t.i BETWEEN s.start_tok AND s.end_tok
      )
    )
    SELECT c.doc_id,
           CAST(len(c.ws) AS INT) AS n_tokens,
           CAST(len(c.ws) - count(k.i) AS INT) AS n_removed,
           coalesce(string_agg(k.tok, ' ' ORDER BY k.i), '') AS clean_text
    FROM corp c LEFT JOIN kept k USING (doc_id)
    GROUP BY c.doc_id, len(c.ws)
    """,
)
def dedup_substring_spans_gate(spark, sf_dir):
    """Exact duplicated-substring SPAN dedup — the Lee et al. 2022
    ExactSubstr rule, shingle-approximated (dedup.duplicated_spans /
    remove_duplicated_spans): rolling 8-token windows catch duplicated
    passages at ANY alignment (segment_dedup's non-overlapping windows
    miss offset copies); keep='first' leaves one copy per passage in
    (doc, position) order.  The oracle replays the md5-prefix hashes,
    the keeper rule, the gaps-and-islands span merge, and the token
    reassembly independently."""
    docs = _docs(spark, sf_dir)
    out = dedup.remove_duplicated_spans(docs, n=8)
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.col("n_removed").cast("int").alias("n_removed"),
        "clean_text",
    )


@q(
    "dedup_span_ingest_gate",
    """
    WITH corp AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
      FROM documents WHERE doc_id % 2 = 0
    ),
    store AS (
      SELECT DISTINCT
             ('0x' || substr(md5(array_to_string(
                list_slice(c.ws, i, i + 7), ' ')), 1, 15))::BIGINT AS h
      FROM corp c, unnest(range(1, greatest(len(c.ws) - 7, 0) + 1)) AS t(i)
    ),
    batch AS (
      SELECT doc_id + 1000000 AS doc_id,
             string_split_regex(trim(text), '\\s+') AS ws
      FROM documents WHERE doc_id % 2 = 1 OR doc_id % 10 = 0
    ),
    bg AS (
      SELECT b.doc_id AS id, i AS pos,
             ('0x' || substr(md5(array_to_string(
                list_slice(b.ws, i, i + 7), ' ')), 1, 15))::BIGINT AS h
      FROM batch b, unnest(range(1, greatest(len(b.ws) - 7, 0) + 1)) AS t(i)
    ),
    seen AS (SELECT bg.id, bg.pos FROM bg JOIN store USING (h)),
    bdup AS (
      SELECT h, min(ROW(id, pos)) AS keeper
      FROM bg GROUP BY 1 HAVING count(*) >= 2
    ),
    internal AS (
      SELECT bg.id, bg.pos FROM bg JOIN bdup USING (h)
      WHERE ROW(bg.id, bg.pos) <> bdup.keeper
    ),
    flagged AS (SELECT * FROM seen UNION SELECT * FROM internal),
    marked AS (
      SELECT id, pos,
             max(pos + 7) OVER (PARTITION BY id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max_end
      FROM flagged
    ),
    islands AS (
      SELECT id, pos,
             sum(CASE WHEN prev_max_end IS NULL OR pos > prev_max_end + 1
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY id ORDER BY pos) AS island
      FROM marked
    )
    SELECT id AS doc_id, CAST(island AS INT) AS start_tok_island,
           CAST(min(pos) AS INT) AS start_tok,
           CAST(max(pos) + 7 AS INT) AS end_tok,
           CAST(count(*) AS INT) AS n_shingles
    FROM islands GROUP BY 1, 2
    """,
)
def dedup_span_ingest_gate(spark, sf_dir):
    """INCREMENTAL ExactSubstr — duplicated-span detection of a new
    batch against the persisted shingle store (dedup.write_shingle_store
    / probe_duplicated_spans): the even-id half of the corpus is the
    ingested state; the probe batch is the odd-id half PLUS re-ingested
    copies of every 10th even doc, which must flag whole-document spans
    against the store, while batch-internal duplicates flag under the
    keep-first rule.  Per-batch cost is batch-sized shingling plus one
    semi-join — the corpus text is never re-read.  The oracle replays
    store construction, probe, keeper rule, and span merge."""
    import tempfile

    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    work = tempfile.mkdtemp(prefix="span_store_") + "/shingles"
    dedup.write_shingle_store(corpus, work, n=8)
    batch = docs.filter(
        (F.col("doc_id") % 2 == 1) | (F.col("doc_id") % 10 == 0)
    ).select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    spans = dedup.probe_duplicated_spans(batch, work)
    from pyspark.sql import Window

    isl = F.row_number().over(
        Window.partitionBy("doc_id").orderBy("start_tok")
    )
    return spans.select(
        "doc_id",
        isl.alias("start_tok_island"),
        F.col("start_tok").cast("int").alias("start_tok"),
        F.col("end_tok").cast("int").alias("end_tok"),
        F.col("n_shingles").cast("int").alias("n_shingles"),
    )


def _pagerank_oracle_sql(iterations: int = 5) -> str:
    """Unrolled fixed-point PageRank oracle (the BPE/perceptron replay
    trick): every stage is integer arithmetic, so DuckDB reproduces the
    engine bit-for-bit."""
    scale, damp = 10**12, 850
    head = f"""
    WITH seq AS (
      SELECT event_type AS dst,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src,
             epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap
      FROM events
    ),
    edges AS (SELECT src, dst FROM seq WHERE src IS NOT NULL AND gap <= 1800),
    nodes AS (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges
      )
    ),
    deg AS (SELECT src, count(*) AS d FROM edges GROUP BY 1),
    ew AS (SELECT e.src, e.dst, d.d FROM edges e JOIN deg d USING (src)),
    params AS (SELECT count(*) AS n FROM nodes),
    r0 AS (
      SELECT node, CAST({scale} // (SELECT n FROM params) AS BIGINT) AS rank
      FROM nodes
    )"""
    steps = []
    for k in range(1, iterations + 1):
        steps.append(f""",
    r{k} AS (
      SELECT nd.node,
             CAST((SELECT ({scale} * {1000 - damp}) // (1000 * n) FROM params)
                  + ({damp} * coalesce(s.inflow, 0)) // 1000 AS BIGINT) AS rank
      FROM nodes nd LEFT JOIN (
        SELECT ew.dst AS node, sum(r.rank // ew.d) AS inflow
        FROM ew JOIN r{k - 1} r ON r.node = ew.src GROUP BY 1
      ) s USING (node)
    )""")
    return (
        head
        + "".join(steps)
        + f"\n    SELECT node, rank FROM r{iterations}"
    )


@q("events_pagerank_gate", _pagerank_oracle_sql(5))
def events_pagerank_gate(spark, sf_dir):
    """Fixed-point PageRank over the user-journey transition graph
    (operators.graph.pagerank + session_transition_edges) — the host/
    page authority signal web-corpus curation ranks crawl output with.
    ALL arithmetic is integer (contributions via `div`, damping as
    permille multiply-divide), so ranks are bit-identical across
    layouts and engines; the oracle replays 5 iterations as unrolled
    integer SQL stages."""
    from .operators import graph

    ev = read_parquet_table(spark, f"{sf_dir}/events.parquet")
    edges = graph.session_transition_edges(ev, gap_minutes=30)
    return graph.pagerank(edges, iterations=5).select("node", "rank")
