"""Text-analysis operators over the ``documents`` table — the
language-ID / quality-score / token-count / fingerprint layer a
large-scale training-data pipeline runs before dedup and filtering.

All operators are pure built-in-function DataFrame programs (no UDFs —
whole-stage codegen end to end) and each has an exact DuckDB oracle.
At 100 TB these are embarrassingly parallel single-pass scans with
map-side-only work; the only shuffles are the final small aggregations.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from guagua_spark.functions.scale import binder_hash_col
from guagua_spark.sources.tables import load_table

#: stopword list for quality scoring (tiny on purpose — a plan literal
#: broadcast with the task binary, not a join)
STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "on", "for", "with")

#: marker words per language for the n-gram-free language-ID heuristic
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "de": ("der", "die", "und", "ist", "das"),
    "es": ("el", "la", "de", "que", "es"),
    "fr": ("le", "la", "et", "les", "des"),
}


def _tokens(col: str = "text") -> Column:
    return F.split(F.col(col), " ")


# -- repetition / boilerplate / redaction ----------------------------------

#: n-gram width for the within-document repetition signal. 2 on the
#: synthetic small-vocabulary corpus (wider grams never repeat there);
#: real pipelines use 8-10 (the RefinedWeb/Gopher "repetition" filters).
REP_GRAM = 2
#: width + min-document threshold for cross-document boilerplate grams
BOILER_GRAM = 3
BOILER_MIN_DOCS = 3
BOILER_TOP = 20
#: deny-list scrub: stand-in for PII patterns (emails/phones/IPs match
#: zero rows on the synthetic corpus, so the deny tokens carry the
#: fixture's nonzero-redaction coverage; swap patterns at deployment)
REDACT_PATTERN = (
    r"\b(customer|value|secret)\b"
    r"|[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
    r"|\b(?:\d{1,3}\.){3}\d{1,3}\b"
)
REDACT_TOKEN = "<REDACTED>"


def _grams_col(width: int, col: str = "text") -> Column:
    """NON-distinct word n-grams (repetition needs multiplicity)."""
    toks = F.split(F.col(col), " ")
    n = F.size(toks)
    idx = F.sequence(F.lit(1), n - (width - 1))
    grams = F.transform(
        idx, lambda i: F.array_join(F.slice(toks, i, width), " ")
    )
    return F.when(n >= width, grams).otherwise(
        F.array().cast("array<string>")
    )


def _sql_grams(width: int, col: str = "text") -> str:
    w = width
    return (
        f"CASE WHEN len(string_split({col},' ')) >= {w} THEN "
        f"list_transform(generate_series(1, len(string_split({col},' '))-{w-1}), "
        f"i -> array_to_string(string_split({col},' ')[i:i+{w-1}], ' ')) "
        "ELSE [] END"
    )


def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting per document: whitespace tokens, distinct tokens,
    and the BPE-ish pretokenizer estimate — one single-pass scan (the
    brief's "whitespace + a BPE-ish regex" is one operator; both counts
    ride the same codegen'd projection, so merging them costs nothing
    and the driver certifies both in one contract row).

    ``pack_bucket``/``pack_seq``: the deterministic sequence-packing
    assignment (operators/packing.pack_assignment — the SAME column
    expressions pack_docs aggregates, so the driver hash-certifies the
    packing hash/bucket/cumsum/binning math per doc through this row;
    the standalone per-sequence rollup stays in LOCAL_QUERIES under the
    50-slot cap). Cost: one bucket exchange + sort on doc-grain scalars
    on top of the previously map-only scan.

    ``n_chunks``/``chunk_hash_sum``: the fixed-token chunking
    certificate (packing.chunk_certificate_cols — same slice/md5 chunk
    values as pipeline_doc_chunks, summed per doc instead of exploded),
    certifying the chunking operator in this row too. Map-side only.

    ``bpe_*``: the engine-trained BPE merge-list certificate
    (tokenizer.bpe_cert_cols — merge count, Σ pair_freq, rank-weighted
    binder), certifying the iterative-engine tokenizer trainer's full
    merge sequence in this row. Memoized per documents fingerprint
    (miss reports as _index:cert:bpe); warm calls are literals.

    ``cds_*``: the span-level chunk-dedup certificate — a 1-row rollup
    of the ACTUAL chunk_dedup_stats output (packing.py): corpus total
    of shared-chunk occurrences, count of docs holding any shared
    chunk, and the doc_id-weighted shared-occurrence sum (binds WHICH
    doc got WHICH shared count). All integer sums — exact cross-engine.
    Memoized per documents fingerprint (certmemo, miss cost reports as
    _index:cert:chunk_dedup) and attached as typed literal columns, so
    the host row stays a single map-side scan on warm calls. Certifies
    the standalone LOCAL operator inside the 50-slot cap."""
    from guagua_spark.operators.certmemo import cached_cert_cols
    from guagua_spark.operators.packing import (
        PACK_BUCKETS,
        chunk_certificate_cols,
        chunk_dedup_stats,
        pack_assignment,
    )
    from guagua_spark.operators.tokenizer import bpe_cert_cols

    docs = load_table(spark, sf_dir, "documents")
    bucket, seq, _ = pack_assignment(
        F.col("doc_id"), F.size(_tokens()), PACK_BUCKETS
    )
    n_chunks, chunk_hash_sum = chunk_certificate_cols()
    cds_cols = cached_cert_cols(
        spark,
        sf_dir,
        "chunk_dedup",
        ("documents",),
        "cds_shared_total bigint, cds_docs_shared bigint, cds_id_wsum bigint",
        lambda: chunk_dedup_stats(spark, sf_dir).agg(
            F.sum("n_shared_chunks").alias("cds_shared_total"),
            F.sum(
                F.when(F.col("n_shared_chunks") > 0, 1).otherwise(0)
            ).alias("cds_docs_shared"),
            F.sum(F.col("doc_id") * F.col("n_shared_chunks")).alias(
                "cds_id_wsum"
            ),
        ),
    )
    return (
        docs.select(
            "doc_id",
            F.size(_tokens()).alias("n_tokens"),
            F.size(F.array_distinct(_tokens())).alias("n_distinct_tokens"),
            F.size(
                F.regexp_extract_all(F.col("text"), F.lit(BPE_REGEX), 0)
            ).alias("n_bpe_tokens"),
            bucket.alias("pack_bucket"),
            seq.alias("pack_seq"),
            n_chunks.alias("n_chunks"),
            chunk_hash_sum.alias("chunk_hash_sum"),
            *cds_cols,
            *bpe_cert_cols(spark, sf_dir),
        )
        .orderBy("doc_id")
    )


def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features: length, token stats, stopword ratio,
    alpha ratio — the standard pre-filter feature set — plus the n-gram
    repetition signal (1 − distinct/total grams, the 'repetitious
    document' filter). Repetition rides the same single codegen'd scan
    as the other features, so merging costs nothing and the driver
    certifies the standalone repetition_scores operator's math through
    these columns (contract is capped at 50 rows).

    ``ulm_oov_total``/``ulm_mu_sum``/``ulm_hash``: the unigram-LM
    quality-scoring certificate (unigram_logprob_df) as typed
    literal columns — total OOV tokens, the sum of every per-doc
    ROUND(avg_logprob·10⁶) as an exact integer, and the doc_id-weighted
    version of that sum (binds WHICH doc carries WHICH score, not just
    the corpus total). Integer certificates, not float sums: summing
    doubles across engines is order-sensitive, summing per-doc rounded
    integers is exact. This certifies the standalone LOCAL operator
    inside the 50-slot cap.

    Repartitioned before the projection: the per-row gram-distinct work
    is the heaviest expression in the text family and a small parquet
    file scans as one partition (no-op at real scale — see
    ensure_parallelism)."""
    from guagua_spark.functions.scale import ensure_parallelism

    docs = ensure_parallelism(
        load_table(spark, sf_dir, "documents"), spark
    )
    toks = _tokens()
    n_tokens = F.size(toks)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    n_chars = F.length("text")
    n_alpha = F.length(F.regexp_replace(F.col("text"), "[^a-zA-Z]", ""))
    # n_grams needs NO array build: a doc with t >= w tokens has exactly
    # t-w+1 (non-distinct) w-grams. The distinct count zips w shifted
    # slices of the token array and distincts the STRUCTS — no joined
    # gram strings are ever allocated. Equal to distinct joined-string
    # grams because space-split tokens contain no spaces, so the
    # space-joined form is injective. (Naive size(g)/distinct(g) over
    # transform+array_join measured 4.3 s at sf0.1; this form 0.9 s.)
    n_grams = F.when(
        n_tokens >= REP_GRAM, n_tokens - (REP_GRAM - 1)
    ).otherwise(0)
    gram_structs = F.arrays_zip(
        *[F.slice(toks, k + 1, n_grams) for k in range(REP_GRAM)]
    )
    n_distinct_g = F.size(F.array_distinct(gram_structs))
    rep = F.when(
        n_grams > 0,
        F.round(F.lit(1.0) - n_distinct_g.cast("double") / n_grams, 6),
    ).otherwise(F.lit(0.0))
    from guagua_spark.operators.certmemo import cached_cert_cols

    mu = F.round(F.col("avg_logprob") * 1e6)
    # memoized per documents fingerprint (certmemo): corpus-level
    # statistics are computed once per corpus version, not per query;
    # miss cost reports as _index:cert:unigram_lm in the bench cold lane
    ucert_cols = cached_cert_cols(
        spark,
        sf_dir,
        "unigram_lm",
        ("documents",),
        "ulm_oov_total bigint, ulm_mu_sum bigint, ulm_hash bigint",
        lambda: unigram_logprob_df(docs.select("doc_id", "text")).agg(
            F.sum("n_oov").alias("ulm_oov_total"),
            F.sum(mu.cast("bigint")).alias("ulm_mu_sum"),
            # Σ-safe binder (round 10): Σ doc_id·mu reached ~1e20 at
            # sf100 and overflowed BIGINT — the ts_checksum class
            F.sum(
                binder_hash_col(
                    "ulm", F.col("doc_id"), mu.cast("bigint")
                )
            )
            .cast("bigint")
            .alias("ulm_hash"),
        ),
    )
    return (
        docs.select(
            "doc_id",
            n_chars.alias("n_chars_text"),
            n_tokens.alias("n_tokens"),
            (n_chars.cast("double") / n_tokens).alias("chars_per_token"),
            (n_stop.cast("double") / n_tokens).alias("stopword_ratio"),
            # try_divide: an empty doc has length 0 and under ANSI mode a
            # raw division would kill the job; NULL matches DuckDB's x/0
            F.try_divide(n_alpha.cast("double"), n_chars).alias("alpha_ratio"),
            n_grams.alias("n_grams"),
            rep.alias("rep_ratio"),
            *ucert_cols,
        )
        .orderBy("doc_id")
    )


def language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word-voting language ID with deterministic tie-break
    (first language in LANG_MARKERS order wins ties)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens()

    def marker_score(markers: tuple[str, ...]) -> Column:
        arr = F.array(*[F.lit(m) for m in markers])
        # NB: the lambda must be unary — pyspark inspects arity and a
        # second (even defaulted) parameter switches to (element, index)
        return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))

    scores = {
        lang: marker_score(markers) for lang, markers in LANG_MARKERS.items()
    }
    langs = list(LANG_MARKERS)
    pred: Column = F.lit(langs[-1])
    # fold right-to-left so earlier languages win ties
    for lang in reversed(langs[:-1]):
        later = [scores[lg] for lg in langs[langs.index(lang) + 1 :]]
        cond = scores[lang] >= later[0]
        for s in later[1:]:
            cond = cond & (scores[lang] >= s)
        pred = F.when(cond, F.lit(lang)).otherwise(pred)
    out = docs.select(
        "doc_id", pred.alias("pred_lang"), *[
            scores[lg].alias(f"score_{lg}") for lg in langs
        ]
    )
    return out.orderBy("doc_id")


def fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: whole-text md5 (exact-dedup join key —
    group by 16-byte digest, not full text) + the min-sampled rolling
    hash (edit-robust; see rolling_fingerprint) in one scan. One
    operator per the brief ("document fingerprinting (rolling hash)"),
    one contract row certifying both columns. Repartitioned to all
    cores first: the rolling window does ~|text| md5 calls per doc,
    far more than the small scan's native partition count can feed.

    ``shf_``/``ws_`` certificate columns (round 6): 1-row integer
    rollups of the ACTUAL corpus_shuffle and weighted_sample outputs —
    the position-weighted doc_id sum binds WHICH doc landed at WHICH
    permutation slot, and the sample's (count, Σdoc_id, Σn_chars)
    binds exactly which k docs the A-ES keys selected. Memoized per
    documents fingerprint (certmemo, miss reports as
    _index:cert:shuffle_wsample) and attached as typed literal columns
    (no join node); certifies both LOCAL operators inside the 50-slot
    cap."""
    from guagua_spark.operators.certmemo import cached_cert_cols

    def _build():
        from guagua_spark.operators.packing import corpus_shuffle
        from guagua_spark.operators.pipeline import (
            pipeline_weighted_sample,
        )

        # Σ-safe binder (round 10): Σ pos·doc_id grows ~N³ in
        # magnitude and overflowed BIGINT at sf100
        shf = corpus_shuffle(spark, sf_dir).agg(
            F.sum(
                binder_hash_col("shf", F.col("pos"), F.col("doc_id"))
            )
            .cast("bigint")
            .alias("shf_hash")
        )
        ws = pipeline_weighted_sample(spark, sf_dir).agg(
            F.count(F.lit(1)).alias("ws_n"),
            F.sum("doc_id").alias("ws_id_sum"),
            F.sum("n_chars").alias("ws_chars_sum"),
        )
        return shf.crossJoin(ws)

    cert_cols = cached_cert_cols(
        spark,
        sf_dir,
        "shuffle_wsample",
        ("documents",),
        "shf_hash bigint, ws_n bigint, ws_id_sum bigint,"
        " ws_chars_sum bigint",
        _build,
    )
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    n = F.length("text")
    idx = F.sequence(F.lit(1), F.greatest(n - (ROLLING_WIDTH - 1), F.lit(1)))
    grams = F.transform(
        idx, lambda i: F.md5(F.col("text").substr(i, F.lit(ROLLING_WIDTH)))
    )
    return docs.select(
        "doc_id",
        F.md5(F.col("text")).alias("fingerprint"),
        F.array_min(grams).alias("rolling_fp"),
        *cert_cols,
    ).orderBy("doc_id")


#: GPT-2-style pretokenizer classes (letters / digits / punctuation runs
#: with optional leading space) — the "BPE-ish" token estimate. Uses
#: only syntax shared by Java regex (Spark) and RE2 (DuckDB).
BPE_REGEX = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"

ROLLING_WIDTH = 16  # char n-gram width for the rolling fingerprint


def bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token estimate: count of pretokenizer matches — the
    standard cheap proxy for LLM token budgets, one regexp scan per doc,
    fully codegen'd."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_REGEX), 0)).alias(
            "n_bpe_tokens"
        ),
    ).orderBy("doc_id")


def rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-sampled rolling fingerprint: minimum md5 over every
    ROLLING_WIDTH-char window — robust to small edits anywhere outside
    the minimizing window (the 1-fingerprint degenerate of winnowing),
    unlike the whole-text md5 which any edit changes."""
    # ~|text| md5 calls per document: repartition the raw text first so
    # the window hashing runs across all cores, not on the single scan
    # partition of a small file
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    n = F.length("text")
    idx = F.sequence(F.lit(1), F.greatest(n - (ROLLING_WIDTH - 1), F.lit(1)))
    grams = F.transform(
        idx, lambda i: F.md5(F.col("text").substr(i, F.lit(ROLLING_WIDTH)))
    )
    return docs.select(
        "doc_id", F.array_min(grams).alias("rolling_fp")
    ).orderBy("doc_id")


TFIDF_TOP_K = 3


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document: tf(term, doc) · ln(N / df(term)).

    Single-scan shape: explode tokens → count per (doc, term)
    [shuffle 1, on (doc_id, term)] → document frequency as an
    unbounded COUNT window partitioned by term over the already-
    aggregated relation [shuffle 2, on term — no sort, no second scan,
    no re-aggregation: an aggregate-then-join formulation would compute
    the tf subplan twice] → rank window on doc_id [shuffle 3]. The
    corpus size N joins in as a 1-row broadcast rather than a
    driver-side collect, so the whole thing is one declarative plan.
    Scores are rounded to 6dp BEFORE ranking so the rank tiebreak
    (score desc, term asc) is engine-portable: ln() may differ from the
    oracle's in the last ulp, never at 1e-6.

    ``bm_*`` (round 7): the BM25 retrieval certificate (bm25_cert_df —
    top-k row count, Σ round(score·1e6), (query·1000+rank)-weighted
    doc-id sum), memoized per documents fingerprint and attached as
    typed literal columns — driver-certifies the bm25_topk LOCAL
    operator inside this green row (column-merge pattern).
    """
    from guagua_spark.operators.certmemo import cached_cert_cols

    bm_cols = cached_cert_cols(
        spark,
        sf_dir,
        "bm25",
        ("documents",),
        "bm_rows bigint, bm_score_e6 bigint, bm_doc_wsum bigint",
        lambda: bm25_cert_df(spark, sf_dir),
    )
    # fi_* (round 9): the bounded-memory heavy-hitters certificate
    # (frequent_tokens_cert_df) — driver-certifies the
    # text_frequent_tokens LOCAL operator (Misra-Gries candidates +
    # exact recount) inside this green row; the oracle replays the
    # plain GROUP BY/HAVING the construction provably equals
    fi_cols = cached_cert_cols(
        spark,
        sf_dir,
        "freq_tokens",
        ("documents",),
        "fi_rows bigint, fi_occ_sum bigint, fi_hash bigint",
        lambda: frequent_tokens_cert_df(spark, sf_dir),
    )
    # cm_* (round 9): the Count-Min certificate (cm_cert_df) —
    # driver-certifies text_probe_freq_cm inside this green row
    cm_cols = cached_cert_cols(
        spark,
        sf_dir,
        "cm_probes",
        ("documents",),
        "cm_rows bigint, cm_est_sum bigint, cm_exact_sum bigint, "
        "cm_hash bigint",
        lambda: cm_cert_df(spark, sf_dir),
    )
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(_tokens()).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    total = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    by_term = Window.partitionBy("term")
    scored = (
        tf.withColumn("df", F.count(F.lit(1)).over(by_term))
        .join(F.broadcast(total))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TFIDF_TOP_K)
        .select("doc_id", "rnk", "term", "tfidf", *bm_cols, *fi_cols, *cm_cols)
        .orderBy("doc_id", "rnk")
    )


# -- BM25 lexical retrieval --------------------------------------------------

#: Okapi BM25 parameters (the Lucene/Robertson defaults) and the fixed
#: retrieval probes — literal term sets standing in for eval prompts /
#: retrieval queries (same fixture role as CONTAMINATION_PROBES);
#: "dup" is the corpus's one rare term, so the probes span the IDF
#: range instead of all hitting ~every document equally.
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 5
BM25_QUERIES = (
    (1, ("hash", "join")),
    (2, ("sort", "merge", "window")),
    (3, ("dup", "query")),
)


def _bm25_score_agg(
    joined: DataFrame, queries=BM25_QUERIES, idf_form: str = "ln"
) -> DataFrame:
    """(query_id, doc_id, score) rollup over a joined per-(query,
    term, doc) relation carrying tf/df/dl/n_docs/avgdl — the ONE
    definition of the BM25 formula, shared by the on-the-fly and
    stored-index paths so they cannot drift.

    DETERMINISTIC summation (hash-gate discipline): a per-group
    ``SUM(idf·tf_part)`` would merge 2-3 doubles in shuffle arrival
    order — run-to-run and engine-to-engine unstable in the last ulp,
    which a 6dp-rounded certificate must not sit on. Instead each
    probe term gets its own conditional aggregate (a (query, doc)
    group holds at most ONE row per term, so every SUM reduces a
    single value — exact), and the per-term partials add in fixed
    lexicographic term order as a plain expression. No float
    reduction ever depends on row order; the SQL twin renders the
    identical conditional sums in the identical order.

    ``idf_form``: "ln" is Robertson-Spärck BM25 (the production
    scorer); "rational" replaces ln(1+x) with the libm-free monotone
    surrogate x/(1+x) — used ONLY by the bm_* certificate so its
    integers are bit-exact by construction at any scale (IEEE +−×÷
    agree across engines; libm ln may differ in the last ulp, a
    per-row 6dp boundary-flip exposure that grows linearly with N).
    The surrogate certifies the identical plumbing: df counting, tf
    normalization, fixed-order sums, rank window, tie-break."""
    all_terms = sorted({t for _, ts in queries for t in ts})
    x = (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    idf = x / (F.lit(1.0) + x) if idf_form == "rational" else F.log(
        F.lit(1.0) + x
    )
    tf_part = (
        F.col("tf")
        * (BM25_K1 + 1.0)
        / (
            F.col("tf")
            + BM25_K1
            * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    contrib = idf * tf_part
    g = joined.groupBy("query_id", "doc_id").agg(
        *[
            F.sum(F.when(F.col("term") == t, contrib)).alias(f"__c{i}")
            for i, t in enumerate(all_terms)
        ]
    )
    total = F.lit(0.0)
    for i in range(len(all_terms)):
        total = total + F.coalesce(F.col(f"__c{i}"), F.lit(0.0))
    return g.select(
        "query_id", "doc_id", F.round(total, 6).alias("score")
    )


def _bm25_score_sum_sql(contrib: str) -> str:
    """The SQL twin of _bm25_score_agg's fixed-order conditional
    sums, given the per-row contribution expression."""
    all_terms = sorted({t for _, ts in BM25_QUERIES for t in ts})
    return " + ".join(
        f"COALESCE(SUM(CASE WHEN term = '{t}' THEN {contrib} END), 0.0)"
        for t in all_terms
    )


#: per-row BM25 contribution over the flattened (term, tf, df, dl,
#: n_docs, avgdl) relation — the SQL twin of _bm25_score_agg's contrib
_BM25_CONTRIB = (
    f"LN(1.0 + (n_docs - df + 0.5) / (df + 0.5))"
    f" * tf * ({BM25_K1!r} + 1.0)"
    f" / (tf + {BM25_K1!r}"
    f" * (1.0 - {BM25_B!r} + {BM25_B!r} * dl / avgdl))"
)

#: the bm_* certificate's libm-free twin: ln(1+x) → x/(1+x), with the
#: parenthesization mirroring the Catalyst tree EXACTLY
#: (idf · (tf·(k1+1) / denom) — IEEE × is not associative, so the
#: grouping is part of the bit-exactness contract)
_BM25_X = "(n_docs - df + 0.5) / (df + 0.5)"
_BM25_CONTRIB_RATIONAL = (
    f"(({_BM25_X}) / (1.0 + ({_BM25_X})))"
    f" * ((tf * ({BM25_K1!r} + 1.0))"
    f" / (tf + {BM25_K1!r}"
    f" * (1.0 - {BM25_B!r} + {BM25_B!r} * dl / avgdl)))"
)


def _bm25_scores_df(
    spark: SparkSession, sf_dir: str, idf_form: str = "ln"
) -> DataFrame:
    """Unordered (query_id, doc_id, score) Okapi BM25 scores — shared
    by the standalone top-k query and the bm_* certificate.

    idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)) (Robertson-Spärck
    Jones, the Lucene form — never negative), tf component
    tf·(k1+1)/(tf + k1·(1−b + b·dl/avgdl)). Scores rounded 6dp before
    any ranking so ln()'s last-ulp engine differences can't flip a
    tiebreak (the tfidf_top_terms discipline).

    100 TB shape: the probe terms are plan literals, so the explode is
    followed immediately by a map-side isin filter — only rows whose
    term IS a probe term survive into the (doc, term) aggregation; the
    whole retrieval pipeline shuffles the postings of the probe terms,
    never the corpus. Doc lengths join back via ONE broadcast hash
    join (the tiny filtered side broadcasts into the length scan), and
    N/avgdl ride in as a 1-row broadcast. This is exactly an inverted-
    index probe expressed declaratively; with a STORED posting table
    (write_bucketed on term — the save_lsh_index pattern) the explode
    pass disappears too."""
    all_terms = sorted({t for _, ts in BM25_QUERIES for t in ts})
    docs = load_table(spark, sf_dir, "documents")
    dl = docs.select(
        "doc_id", F.size(_tokens()).cast("double").alias("dl")
    )
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    tf = (
        docs.select("doc_id", F.explode(_tokens()).alias("term"))
        .filter(F.col("term").isin(*all_terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    # df via a window over the ALREADY-aggregated tf relation (the
    # tfidf_top_terms shape): a separate groupBy would re-evaluate the
    # whole explode+filter subtree — one more corpus scan for nothing
    tf = tf.withColumn(
        "df",
        F.count(F.lit(1))
        .over(Window.partitionBy("term"))
        .cast("double"),
    )
    q = spark.createDataFrame(
        [(qid, t) for qid, ts in BM25_QUERIES for t in ts],
        "query_id int, term string",
    )
    joined = (
        tf.join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .join(F.broadcast(q), "term")
    )
    return _bm25_score_agg(joined, idf_form=idf_form)


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k BM25 retrieval per probe query: (query_id, rnk, doc_id,
    score). The rank window partitions by query_id — bounded per-probe
    candidate sets here (every candidate contains a probe term); a
    probe matching half the corpus graduates to the bucketed window
    escape (functions/scale.py), same as every window-family op."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    return (
        _bm25_scores_df(spark, sf_dir)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= BM25_TOP_K)
        .select("query_id", "rnk", "doc_id", "score")
        .orderBy("query_id", "rnk")
    )


def bm25_cert_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-row integer certificate of the whole retrieval stack: top-k
    row count, Σ round(score·1e6), and a (query·1000 + rank)-weighted
    doc-id sum binding WHICH doc lands at WHICH rank of WHICH query.

    Scored with the RATIONAL idf surrogate (idf_form="rational" —
    libm-free, see _bm25_score_agg), so every integer is bit-exact by
    construction at any sf; the real-ln scorer keeps its own rtol
    oracle (text_bm25_topk, tests/test_text_ops.py)."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    topk = (
        _bm25_scores_df(spark, sf_dir, idf_form="rational")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= BM25_TOP_K)
    )
    return topk.agg(
        F.count(F.lit(1)).cast("bigint").alias("bm_rows"),
        F.sum(F.round(F.col("score") * 1e6).cast("bigint"))
        .cast("bigint")
        .alias("bm_score_e6"),
        F.sum(
            (F.col("query_id").cast("bigint") * 1000 + F.col("rnk"))
            * F.col("doc_id")
        )
        .cast("bigint")
        .alias("bm_doc_wsum"),
    )


def text_index_stats(spark: SparkSession, name: str) -> dict:
    """Probe-relevant statistics of a STORED text index — df per probe
    term, n_docs, avgdl — as a tiny driver-side dict (|probe terms| +
    2 scalars): the 'model' a deployed BM25 scorer carries. Index-time
    statistics are the standard BM25 serving contract (scores stay
    comparable across a model version; a re-index refreshes them)."""
    all_terms = sorted({t for _, ts in BM25_QUERIES for t in ts})
    df_rows = (
        spark.table(f"{name}_postings")
        .filter(F.col("term").isin(*all_terms))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("double").alias("df"))
        .collect()
    )
    s = spark.table(f"{name}_stats").first()
    return {
        "df": {r.term: r.df for r in df_rows},
        "n_docs": float(s.n_docs),
        "avgdl": float(s.avgdl),
    }


def bm25_doc_score_cols(stats: dict):
    """Per-probe-query BM25 score COLUMNS over a (doc_id, text)
    relation, with every corpus statistic inlined as a plan literal
    (idf computed driver-side from the stored-index stats) — shared by
    the batch scorer and the streaming twin so the two cannot drift.
    Pure map-side codegen: per-term tf is an array filter over the
    token split, dl its size; works unchanged on bounded and unbounded
    relations (the lr_score_col philosophy applied to retrieval)."""
    import math

    toks = _tokens()
    dl = F.size(toks).cast("double")
    cols = []
    for qid, terms in BM25_QUERIES:
        score = F.lit(0.0)
        for t in terms:
            df_t = stats["df"].get(t, 0.0)
            if df_t <= 0:
                continue  # unseen term: tf would be 0 anyway at serve
            idf = math.log(
                1.0 + (stats["n_docs"] - df_t + 0.5) / (df_t + 0.5)
            )
            tf = F.size(
                F.filter(toks, lambda w: w == F.lit(t))
            ).cast("double")
            score = score + F.lit(idf) * tf * (BM25_K1 + 1.0) / (
                tf
                + BM25_K1
                * (1.0 - BM25_B + BM25_B * dl / stats["avgdl"])
            )
        cols.append(F.round(score, 6).alias(f"q{qid}_score"))
    return cols


def bm25_score_docs(docs: DataFrame, stats: dict) -> DataFrame:
    """Batch form of the stored-stats BM25 scorer: one map-side pass
    adding a score column per probe query."""
    return docs.select("doc_id", *bm25_doc_score_cols(stats))


def save_text_index(docs: DataFrame, name: str, n_buckets: int = 16) -> None:
    """Materialize the full-text index of a (doc_id, text) corpus as
    stored tables — the deployment form of the BM25 pipeline (the
    save_lsh_index pattern applied to lexical retrieval):

    - ``<name>_postings`` — (term, doc_id, tf), bucketed by term:
      probing ANY term set is a bucket-local read + join, no corpus
      text rescan, no explode.
    - ``<name>_lengths`` — (doc_id, dl), bucketed by doc_id.
    - ``<name>_stats`` — 1 row (n_docs, avgdl).

    Unlike the on-the-fly path (which filters the explode to literal
    probe terms), the stored index carries EVERY term — it serves
    arbitrary future queries; that is what makes it the write-once
    form. Overwrites any previous index of the same name."""
    from guagua_spark.functions.scale import save_table, write_bucketed

    base = docs.select(
        "doc_id", F.size(_tokens()).cast("double").alias("dl"), "text"
    )
    postings = (
        base.select("doc_id", F.explode(_tokens()).alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    write_bucketed(postings, f"{name}_postings", ["term"], n_buckets)
    write_bucketed(
        base.select("doc_id", "dl"), f"{name}_lengths", ["doc_id"], n_buckets
    )
    save_table(
        base.agg(
            F.count(F.lit(1)).cast("double").alias("n_docs"),
            F.avg("dl").alias("avgdl"),
        ),
        f"{name}_stats",
    )


def bm25_topk_from_index(
    spark: SparkSession, name: str, queries=BM25_QUERIES, k: int = BM25_TOP_K
) -> DataFrame:
    """BM25 top-k probing the STORED text index: postings, lengths,
    and corpus stats come from catalog tables — the corpus text is
    never rescanned, and the probe-term filter lands on the postings
    table's bucket key. Round-trip equality with the on-the-fly path
    is asserted in tests/test_index_store.py."""
    all_terms = sorted({t for _, ts in queries for t in ts})
    tf = spark.table(f"{name}_postings").filter(
        F.col("term").isin(*all_terms)
    )
    dl = spark.table(f"{name}_lengths")
    stats = spark.table(f"{name}_stats")
    dfreq = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    q = spark.createDataFrame(
        [(qid, t) for qid, ts in queries for t in ts],
        "query_id int, term string",
    )
    scores = _bm25_score_agg(
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .join(F.broadcast(q), "term"),
        queries,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    return (
        scores.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "rnk", "doc_id", "score")
        .orderBy("query_id", "rnk")
    )


def _bm25_ctes(contrib: str = _BM25_CONTRIB) -> str:
    """``bmq`` → … → ``bmtop`` CTE block replaying the BM25 stack —
    the standalone oracle uses the default (real-ln) contribution; the
    bm_* certificate splice passes _BM25_CONTRIB_RATIONAL (libm-free
    twin)."""
    qvals = ", ".join(
        f"({qid}, '{t}')" for qid, ts in BM25_QUERIES for t in ts
    )
    terms = ", ".join(
        repr(t) for t in sorted({t for _, ts in BM25_QUERIES for t in ts})
    )
    return f"""bmq(query_id, term) AS (VALUES {qvals}),
bmdl AS (
  SELECT doc_id, CAST(len({_sql_tokens()}) AS DOUBLE) AS dl FROM documents
),
bmstats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM bmdl
),
bmtf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
  FROM (SELECT doc_id, unnest({_sql_tokens()}) AS term FROM documents)
  WHERE term IN ({terms})
  GROUP BY 1, 2
),
bmdf AS (
  SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM bmtf GROUP BY 1
),
bmsc AS (
  -- fixed-order conditional sums, one per probe term (each reduces a
  -- single row): _bm25_score_agg's determinism discipline, rendered
  -- in the identical term order
  SELECT query_id, doc_id, ROUND({_bm25_score_sum_sql(contrib)}, 6)
           AS score
  FROM (
    SELECT q.query_id, t.doc_id, t.term, t.tf, d.df, l.dl,
           s.n_docs, s.avgdl
    FROM bmtf t
    JOIN bmdf d ON t.term = d.term
    JOIN bmdl l ON t.doc_id = l.doc_id
    JOIN bmq q ON t.term = q.term
    CROSS JOIN bmstats s
  )
  GROUP BY 1, 2
),
bmtop AS (
  SELECT query_id, doc_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS rnk
  FROM bmsc
)"""


def _bm25_oracle() -> str:
    return f"""
WITH {_bm25_ctes()}
SELECT query_id, rnk, doc_id, score
FROM bmtop WHERE rnk <= {BM25_TOP_K}
ORDER BY query_id, rnk
""".strip()


NGRAM_TOP_K = 20

#: probe strings for the contamination check — stand-ins for benchmark
#: questions / eval prompts a training pipeline must exclude. A plan
#: literal array: at scale this is a broadcast of the probe set, and the
#: scan side stays a single pass (contains() per probe, codegen'd).
CONTAMINATION_PROBES = (
    "hash join",
    "shuffle partition",
    "filter scan",
)


def corpus_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus word bigrams with document frequency — the n-gram
    profile used for contamination screens and LM overlap estimates.

    Explode bigrams (map-side, from the token array — no self-join) →
    count per bigram [one shuffle] → global top-k via orderBy().limit(),
    which Catalyst plans as TakeOrderedAndProject: each partition keeps
    its local top-k heap and the driver merges k·P rows — no global
    sort of the (at 100 TB, billions-row) distinct-bigram relation. The
    rank is assigned AFTER the limit, over k rows. Deterministic
    tiebreak: count desc, bigram asc.

    Scan-count note: the bigram and boilerplate subtrees each scan the
    corpus (two scans). Folding both gram families into one tagged
    explode + (kind, gram) shuffle was A/B-measured SLOWER at sf0.1
    twice (round 4: 3.3 s vs 2.5 s; round 5 re-run on a different box:
    3.78 s vs 2.13 s median-of-5 — struct-array materialization + the
    checkpoint needed to stop Catalyst pushing the kind predicate
    below the aggregate outweigh the saved scan; Catalyst otherwise
    re-splits it into two scans anyway). At scan-dominated scale the
    tagged single pass is the right form — switch when the corpus no
    longer fits the page cache.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens()
    n = F.size(toks)
    idx = F.sequence(F.lit(1), n - 1)
    grams = F.when(
        n >= 2,
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i, 2), " ")),
    ).otherwise(F.array().cast("array<string>"))
    top = (
        docs.select(F.explode(grams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram"))
        .limit(NGRAM_TOP_K)
    )
    w = Window.orderBy(F.col("n").desc(), F.col("bigram"))
    ranked = (
        top.withColumn("rnk", F.row_number().over(w))
        .select("rnk", "bigram", "n")
    )
    # boilerplate top-K zipped in by rank: per-doc array_distinct
    # BEFORE the explode keeps the shuffle one row per (doc, gram), a
    # plain count(1) not a countDistinct expand; top-K plans as
    # TakeOrderedAndProject. Joining the two 20-row lists on rnk is a
    # trivially-broadcast join — this certifies the standalone
    # boilerplate_ngrams operator inside this contract row (50-row cap).
    boiler = (
        docs.select(
            F.explode(F.array_distinct(_grams_col(BOILER_GRAM))).alias("gram")
        )
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("boiler_n_docs"))
        .filter(F.col("boiler_n_docs") >= BOILER_MIN_DOCS)
        .orderBy(F.col("boiler_n_docs").desc(), "gram")
        .limit(BOILER_TOP)
    )
    wb = Window.orderBy(F.col("boiler_n_docs").desc(), "gram")
    boiler_r = boiler.withColumn("rnk", F.row_number().over(wb)).select(
        "rnk", F.col("gram").alias("boiler_gram"), "boiler_n_docs"
    )
    return (
        ranked.join(F.broadcast(boiler_r), "rnk", "left")
        .select("rnk", "bigram", "n", "boiler_gram", "boiler_n_docs")
        .orderBy("rnk")
    )


def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many documents contain each contamination probe substring,
    plus corpus-level deny-list redaction certificates.

    The probe set rides the plan as literals (a broadcast at scale);
    the corpus is scanned ONCE — each probe is a codegen'd contains()
    over the same text column, summed as conditional aggregates, so
    adding probes widens the aggregate, never adds a scan or a join.

    The redaction columns certify the standalone redact_denylist
    operator through this contract row (50-row cap): hit totals, the
    doc_id-weighted hit sum (binds WHICH documents matched, not just
    how many), and the total scrubbed-corpus length (binds the
    replacement arithmetic).

    ``decon_flagged``/``decon_hits_total``/``decon_id_sum``: the
    train/test-decontamination certificate (decontaminate_df) as a
    1-row broadcast cross join — how many training docs the n-gram
    overlap rule flags, the total heldout-gram hits, and the flagged
    doc_id sum (binds WHICH docs), certifying the standalone LOCAL
    operator inside the 50-slot cap.
    """
    docs = load_table(spark, sf_dir, "documents")
    aggs = [
        F.sum(
            F.when(F.col("text").contains(p), 1).otherwise(0)
        ).alias(f"probe_{i}")
        for i, p in enumerate(CONTAMINATION_PROBES)
    ]
    n_red = F.regexp_count(F.col("text"), F.lit(REDACT_PATTERN))
    red_text = F.regexp_replace(F.col("text"), REDACT_PATTERN, REDACT_TOKEN)
    aggs += [
        F.sum(F.when(n_red > 0, 1).otherwise(0)).alias("redacted_docs"),
        F.sum(n_red.cast("bigint")).alias("n_redacted_total"),
        F.sum((F.col("doc_id") * n_red).cast("bigint")).alias(
            "redact_id_sum"
        ),
        F.sum(F.length(red_text).cast("bigint")).alias("redacted_chars"),
    ]
    from guagua_spark.operators.certmemo import cached_cert_row

    # memoized per documents fingerprint (certmemo): the decon rollup
    # is a pure function of the static corpus — computed once, replayed
    # as literals; miss cost reports as _index:cert:decontaminate
    dcert = cached_cert_row(
        spark,
        sf_dir,
        "decontaminate",
        ("documents",),
        "decon_flagged bigint, decon_hits_total bigint, decon_id_sum bigint",
        lambda: decontaminate_df(docs.select("doc_id", "text")).agg(
            F.sum(F.when(F.col("contaminated"), 1).otherwise(0)).alias(
                "decon_flagged"
            ),
            F.sum("n_hits").alias("decon_hits_total"),
            F.sum(
                F.when(F.col("contaminated"), F.col("doc_id")).otherwise(0)
            ).alias("decon_id_sum"),
        ),
    )
    return docs.agg(F.count(F.lit(1)).alias("n_docs"), *aggs).crossJoin(
        F.broadcast(dcert)
    )


def _sql_tokens() -> str:
    return "string_split(text, ' ')"


def _sql_lang_scores() -> dict[str, str]:
    out = {}
    for lang, markers in LANG_MARKERS.items():
        lst = ", ".join(f"'{m}'" for m in markers)
        out[lang] = (
            f"len(list_filter({_sql_tokens()}, "
            f"t -> list_contains([{lst}], t)))"
        )
    return out


def _lang_oracle() -> str:
    scores = _sql_lang_scores()
    langs = list(LANG_MARKERS)
    whens = []
    for i, lang in enumerate(langs[:-1]):
        conds = " AND ".join(
            f"s_{lang} >= s_{later}" for later in langs[i + 1 :]
        )
        whens.append(f"WHEN {conds} THEN '{lang}'")
    case = "CASE " + " ".join(whens) + f" ELSE '{langs[-1]}' END"
    score_cols = ", ".join(f"{expr} AS s_{lg}" for lg, expr in scores.items())
    out_scores = ", ".join(f"s_{lg} AS score_{lg}" for lg in langs)
    return (
        f"WITH t AS (SELECT doc_id, {score_cols} FROM documents) "
        f"SELECT doc_id, {case} AS pred_lang, {out_scores} "
        "FROM t ORDER BY doc_id"
    )


def _quality_oracle() -> str:
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    return f"""
WITH g AS (SELECT *, {_sql_grams(REP_GRAM)} AS grams FROM documents),
{_unigram_ctes()},
ucert AS (
  -- CAST per row BEFORE summing: the Spark side sums bigints, and a
  -- double accumulator would round past 2^53 on a large corpus
  SELECT CAST(SUM(n_oov) AS BIGINT) AS ulm_oov_total,
         CAST(SUM(CAST(ROUND(avg_logprob * 1000000) AS BIGINT))
              AS BIGINT) AS ulm_mu_sum,
         CAST(SUM(CAST(CAST(('0x' || substr(md5('ulm|' || CAST(doc_id AS VARCHAR) || '|' || CAST(CAST(ROUND(avg_logprob * 1000000) AS BIGINT) AS VARCHAR)), 1, 8)) AS UBIGINT) % 1000003 AS BIGINT)) AS BIGINT) AS ulm_hash
  FROM uni
)
SELECT doc_id,
       LENGTH(text) AS n_chars_text,
       len({_sql_tokens()}) AS n_tokens,
       CAST(LENGTH(text) AS DOUBLE) / len({_sql_tokens()}) AS chars_per_token,
       CAST(len(list_filter({_sql_tokens()},
            t -> list_contains([{stop_list}], t))) AS DOUBLE)
           / len({_sql_tokens()}) AS stopword_ratio,
       CAST(LENGTH(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
           / LENGTH(text) AS alpha_ratio,
       len(grams) AS n_grams,
       CASE WHEN len(grams) > 0
            THEN ROUND(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
                       / len(grams), 6)
            ELSE 0.0 END AS rep_ratio,
       ulm_oov_total, ulm_mu_sum, ulm_hash
FROM g, ucert ORDER BY doc_id
""".strip()


#: driver-contract surface (the driver runs at most 50 queries, so the
#: standalone bpe / rolling entries are folded into token_counts /
#: fingerprints — same operators, certified via the merged columns).
QUERIES = {
    "text_token_counts": token_counts,
    "text_quality_scores": quality_scores,
    "text_language_id": language_id,
    "text_fingerprints": fingerprints,
    "text_tfidf_top_terms": tfidf_top_terms,
    "text_corpus_bigrams": corpus_bigrams,
    "text_contamination": contamination_check,
}

_ROLLING_FP_SQL = f"""list_min(list_transform(
         range(1, greatest(LENGTH(text) - {ROLLING_WIDTH - 1}, 1) + 1),
         i -> md5(text[i:i+{ROLLING_WIDTH - 1}])))"""

ORACLE_SQL = {
    "text_token_counts": None,  # assigned right after this dict literal
    # assigned at the bottom of the module — the quality oracle splices
    # the unigram-LM CTE block, defined down there
    "text_quality_scores": None,
    "text_language_id": _lang_oracle(),
    # shf/ws certificate CTEs wrap the standalone LOCAL oracles of
    # corpus_shuffle and pipeline_weighted_sample verbatim (assigned
    # right after this dict literal — the strings live in their home
    # modules)
    "text_fingerprints": None,
    # assigned right after this dict literal — splices the bm_*
    # retrieval certificate CTEs (defined above)
    "text_tfidf_top_terms": None,
    "text_corpus_bigrams": f"""
WITH grams AS (
  SELECT unnest(CASE WHEN len({_sql_tokens()}) >= 2 THEN
    list_transform(generate_series(1, len({_sql_tokens()}) - 1),
      i -> array_to_string({_sql_tokens()}[i:i+1], ' '))
    ELSE [] END) AS bigram
  FROM documents
),
counted AS (SELECT bigram, COUNT(*) AS n FROM grams GROUP BY 1),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY n DESC, bigram) AS rnk FROM counted
),
be AS (
  SELECT doc_id, unnest(list_distinct({_sql_grams(BOILER_GRAM)})) AS gram
  FROM documents
),
bc AS (
  SELECT gram, COUNT(*) AS boiler_n_docs FROM be
  GROUP BY gram HAVING COUNT(*) >= {BOILER_MIN_DOCS}
),
br AS (
  SELECT gram, boiler_n_docs,
         ROW_NUMBER() OVER (ORDER BY boiler_n_docs DESC, gram) AS rnk
  FROM bc
)
SELECT r.rnk, r.bigram, r.n, b.gram AS boiler_gram, b.boiler_n_docs
FROM ranked r
LEFT JOIN (SELECT * FROM br WHERE rnk <= {BOILER_TOP}) b ON r.rnk = b.rnk
WHERE r.rnk <= {NGRAM_TOP_K} ORDER BY r.rnk
""".strip(),
    # assigned at the bottom of the module — splices the decontamination
    # CTE block, defined down there
    "text_contamination": None,
}


def _token_counts_oracle() -> str:
    from guagua_spark.operators.packing import (
        PACK_BUCKETS,
        SEQ_TOKENS,
        sql_chunk_certificate,
        sql_chunk_dedup_cert_cte,
    )

    u32 = (
        "CAST(('0x' || substr(md5('pack|' || CAST(doc_id AS VARCHAR)), 1, 8))"
        " AS UBIGINT)"
    )
    from guagua_spark.operators.tokenizer import sql_bpe_cert_cte

    n_chunks, chunk_hash_sum = sql_chunk_certificate()
    return f"""
WITH {sql_chunk_dedup_cert_cte()},
{sql_bpe_cert_cte()},
base AS (
  SELECT doc_id,
         len({_sql_tokens()}) AS n_tokens,
         len(list_distinct({_sql_tokens()})) AS n_distinct_tokens,
         len(regexp_extract_all(text, '{BPE_REGEX}')) AS n_bpe_tokens,
         {u32} AS h,
         LEAST(len({_sql_tokens()}), {SEQ_TOKENS}) AS capped,
         {n_chunks} AS n_chunks,
         {chunk_hash_sum} AS chunk_hash_sum
  FROM documents
)
SELECT doc_id, n_tokens, n_distinct_tokens, n_bpe_tokens,
       CAST(h % {PACK_BUCKETS} AS BIGINT) AS pack_bucket,
       CAST(FLOOR((SUM(capped) OVER (PARTITION BY h % {PACK_BUCKETS}
                                     ORDER BY h, doc_id
                                     ROWS UNBOUNDED PRECEDING) - capped)
                  / {float(SEQ_TOKENS)!r}) AS BIGINT) AS pack_seq,
       n_chunks, chunk_hash_sum,
       cds_shared_total, cds_docs_shared, cds_id_wsum,
       bpe_n_merges, bpe_freq_total, bpe_merge_binder
FROM base CROSS JOIN cd_cert CROSS JOIN bpe_cert ORDER BY doc_id
""".strip()


def _tfidf_oracle() -> str:
    """tfidf_top_terms end-to-end, with the bm_* retrieval certificate
    (the shared _bm25_ctes block) cross-joined onto every rank row."""
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({_sql_tokens()}) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
),
dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
),
total AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         ROUND(tf.tf * LN(CAST(n_docs AS DOUBLE) / dfreq.df), 6) AS tfidf
  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN total
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term) AS rnk
  FROM scored
),
{_bm25_ctes(_BM25_CONTRIB_RATIONAL)},
bmcert AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS bm_rows,
         CAST(SUM(CAST(ROUND(score * 1e6) AS BIGINT)) AS BIGINT)
           AS bm_score_e6,
         CAST(SUM((query_id * 1000 + rnk) * doc_id) AS BIGINT)
           AS bm_doc_wsum
  FROM bmtop WHERE rnk <= {BM25_TOP_K}
),
{_fi_cert_ctes()},
{_cm_cert_ctes()}
SELECT doc_id, r.rnk, term, tfidf, bm_rows, bm_score_e6, bm_doc_wsum,
       fi_rows, fi_occ_sum, fi_hash, cm_rows, cm_est_sum, cm_exact_sum,
       cm_hash
FROM ranked r, bmcert, ficert, cmcert WHERE r.rnk <= {TFIDF_TOP_K}
ORDER BY doc_id, r.rnk
""".strip()


# text_tfidf_top_terms's oracle is assigned below the frequent-tokens
# section (its fi_* CTE splice needs FREQ_COUNTERS)
ORACLE_SQL["text_token_counts"] = _token_counts_oracle()


def _fingerprints_oracle() -> str:
    """Wraps the standalone corpus_shuffle / weighted_sample LOCAL
    oracles verbatim as certificate CTEs — the host row's hash then
    certifies exactly the math those oracles define."""
    from guagua_spark.operators.packing import _corpus_shuffle_oracle
    from guagua_spark.operators.pipeline import _weighted_sample_oracle

    return f"""
WITH shf AS (
  SELECT CAST(SUM(CAST(CAST(('0x' || substr(md5('shf|' || CAST(pos AS VARCHAR) || '|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) % 1000003 AS BIGINT)) AS BIGINT) AS shf_hash
  FROM ({_corpus_shuffle_oracle()})
),
ws AS (
  SELECT COUNT(*) AS ws_n, CAST(SUM(doc_id) AS BIGINT) AS ws_id_sum,
         CAST(SUM(n_chars) AS BIGINT) AS ws_chars_sum
  FROM ({_weighted_sample_oracle()})
)
SELECT doc_id, md5(text) AS fingerprint,
       {_ROLLING_FP_SQL} AS rolling_fp,
       shf_hash, ws_n, ws_id_sum, ws_chars_sum
FROM documents CROSS JOIN shf CROSS JOIN ws ORDER BY doc_id
""".strip()


ORACLE_SQL["text_fingerprints"] = _fingerprints_oracle()

def repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document n-gram repetition ratio (1 − distinct/total) —
    the standard 'repetitious document' quality filter. Single pass,
    no shuffle beyond the presentation sort; ensure_parallelism fans
    the per-row gram build + array_distinct (interpreted HOFs) out of
    a small file's single scan partition (measured 7.5 s warm at
    sf0.1 single-task vs sub-second fanned; no-op at real scale)."""
    from guagua_spark.functions.scale import ensure_parallelism

    docs = ensure_parallelism(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        spark,
    )
    g = _grams_col(REP_GRAM)
    n = F.size(g)
    d = F.size(F.array_distinct(g))
    rep = F.when(
        n > 0, F.round(F.lit(1.0) - d.cast("double") / n, 6)
    ).otherwise(F.lit(0.0))
    return docs.select(
        "doc_id",
        n.alias("n_grams"),
        d.alias("n_distinct"),
        rep.alias("rep_ratio"),
    ).orderBy("doc_id")


def _repetition_oracle() -> str:
    g = _sql_grams(REP_GRAM)
    return f"""
WITH g AS (SELECT doc_id, {g} AS grams FROM documents)
SELECT doc_id, len(grams) AS n_grams,
       len(list_distinct(grams)) AS n_distinct,
       CASE WHEN len(grams) > 0
            THEN ROUND(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
                       / len(grams), 6)
            ELSE 0.0 END AS rep_ratio
FROM g ORDER BY doc_id
""".strip()


def boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate: n-grams occurring in ≥
    BOILER_MIN_DOCS distinct documents, top-K by document count (ties
    by gram — deterministic). Per-doc array_distinct BEFORE the explode
    keeps the shuffle one row per (doc, gram), so a gram repeated
    inside one doc can't inflate its count, and the count is a plain
    count(1), not a countDistinct expand. ensure_parallelism fans the
    per-row gram build + array_distinct (interpreted HOFs) out of a
    small file's single scan partition — no-op at real scale."""
    from guagua_spark.functions.scale import ensure_parallelism

    docs = ensure_parallelism(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        spark,
    )
    exploded = docs.select(
        F.explode(F.array_distinct(_grams_col(BOILER_GRAM))).alias("gram")
    )
    return (
        exploded.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= BOILER_MIN_DOCS)
        .orderBy(F.col("n_docs").desc(), "gram")
        .limit(BOILER_TOP)
    )


def _boilerplate_oracle() -> str:
    g = _sql_grams(BOILER_GRAM)
    return f"""
WITH e AS (
  SELECT doc_id, unnest(list_distinct({g})) AS gram FROM documents
)
SELECT gram, COUNT(*) AS n_docs FROM e
GROUP BY gram HAVING COUNT(*) >= {BOILER_MIN_DOCS}
ORDER BY n_docs DESC, gram LIMIT {BOILER_TOP}
""".strip()


def redact_denylist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deny-list / PII scrub: replace pattern hits with a redaction
    token; emit per-doc hit count + md5 of the scrubbed text (compact,
    exactly checkable). Pure regexp codegen — the 100 TB shape is one
    scan pass writing the scrubbed corpus (drop the md5, keep the
    text)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    red = F.regexp_replace(F.col("text"), REDACT_PATTERN, REDACT_TOKEN)
    return docs.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(REDACT_PATTERN)).alias(
            "n_redacted"
        ),
        F.md5(red).alias("redacted_md5"),
    ).orderBy("doc_id")


def _redact_oracle() -> str:
    return f"""
SELECT doc_id,
       len(regexp_extract_all(text, '{REDACT_PATTERN}')) AS n_redacted,
       md5(regexp_replace(text, '{REDACT_PATTERN}', '{REDACT_TOKEN}', 'g'))
         AS redacted_md5
FROM documents ORDER BY doc_id
""".strip()


# -- train/test decontamination --------------------------------------------

#: overlap gram width. Real pipelines use 8-13 (the GPT-3/PaLM
#: "remove any train doc sharing a 13-gram with an eval benchmark"
#: rule); 4 on the small-vocabulary synthetic corpus so the filter
#: actually discriminates (75/450 flagged; ≥6 degenerates to the 6
#: exact dups).
DECON_GRAM = 4
#: stand-in benchmark set: doc_id < DECON_HELDOUT plays the eval suite
DECON_HELDOUT = 50


def _decon_grams(text_col: str = "text"):
    """Word DECON_GRAM-gram array (empty for short docs) — single
    definition shared by the batch operator and its stream-static
    streaming twin (streaming/stream_ops.streaming_decontaminate)."""
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    idx = F.sequence(F.lit(1), n - (DECON_GRAM - 1))
    return F.when(
        n >= DECON_GRAM,
        F.transform(
            idx, lambda i: F.array_join(F.slice(toks, i, DECON_GRAM), " ")
        ),
    ).otherwise(F.array().cast("array<string>"))


def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination: per training doc (doc_id ≥
    DECON_HELDOUT), how many of its word DECON_GRAM-grams appear
    anywhere in the heldout set (doc_id < DECON_HELDOUT), and the
    contamination verdict — the standard "drop any training document
    that shares an n-gram with an eval benchmark" filter.

    100 TB design: the heldout gram set derives from a benchmark suite
    (thousands of docs — small by construction), so the join against it
    is broadcast-sized in practice, but no hint is forced (a pathological
    heldout set must not OOM the executors; AQE decides). Gram explode
    is map-side; the per-doc rollup partial-aggregates; short docs
    (< DECON_GRAM tokens) survive via explode_outer with zero grams."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return decontaminate_df(docs).orderBy("doc_id")


def decontaminate_df(docs: DataFrame) -> DataFrame:
    """Core per-training-doc decontamination rollup over a
    (doc_id, text) DataFrame — shared by the standalone LOCAL query and
    the corpus-level certificate columns merged into
    text_contamination (see decontaminate for the plan notes).
    ensure_parallelism: the per-row gram build is an interpreted HOF
    running below the first exchange — fanned out of a small file's
    single scan partition (measured 2.6 s warm at sf0.1 single-task;
    no-op at real scale)."""
    from guagua_spark.functions.scale import ensure_parallelism

    docs = ensure_parallelism(docs, docs.sparkSession)
    grams = _decon_grams()
    train = docs.filter(F.col("doc_id") >= DECON_HELDOUT).select(
        "doc_id", F.explode_outer(grams).alias("g")
    )
    held = (
        docs.filter(F.col("doc_id") < DECON_HELDOUT)
        .select(F.explode(grams).alias("g"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        train.join(held, "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count("g").alias("n_grams"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hits"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_hits",
            (F.col("n_hits") > 0).alias("contaminated"),
        )
    )


def _decon_ctes(source: str = "documents") -> str:
    """``dtoks`` → … → ``dec`` CTE block replaying decontaminate_df
    over any (doc_id, text) source — shared by the standalone LOCAL
    oracle and the certificate columns inside the contamination
    oracle."""
    w = DECON_GRAM
    return f"""dtoks AS (
  SELECT doc_id, {_sql_tokens()} AS t FROM {source}
),
dgrams AS (
  SELECT doc_id, array_to_string(t[i:i+{w - 1}], ' ') AS g
  FROM dtoks, unnest(range(1, len(t) - {w - 2})) AS u(i)
  WHERE len(t) >= {w}
),
dheld AS (SELECT DISTINCT g FROM dgrams WHERE doc_id < {DECON_HELDOUT}),
dhits AS (
  SELECT g.doc_id, COUNT(*) AS n_grams,
         SUM(CASE WHEN h.g IS NOT NULL THEN 1 ELSE 0 END) AS n_hits
  FROM dgrams g LEFT JOIN dheld h ON g.g = h.g
  WHERE g.doc_id >= {DECON_HELDOUT}
  GROUP BY g.doc_id
),
dec AS (
  SELECT d.doc_id,
         COALESCE(n_grams, 0) AS n_grams,
         CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits,
         COALESCE(n_hits, 0) > 0 AS contaminated
  FROM {source} d LEFT JOIN dhits ON dhits.doc_id = d.doc_id
  WHERE d.doc_id >= {DECON_HELDOUT}
)"""


def _decontaminate_oracle() -> str:
    return f"WITH {_decon_ctes()}\nSELECT * FROM dec ORDER BY doc_id"


def _contamination_oracle() -> str:
    probes = ", ".join(
        f"CAST(SUM(CASE WHEN contains(text, '{p}') THEN 1 ELSE 0 END) "
        f"AS BIGINT) AS probe_{i}"
        for i, p in enumerate(CONTAMINATION_PROBES)
    )
    return f"""
WITH {_decon_ctes()},
dcert AS (
  SELECT CAST(SUM(CASE WHEN contaminated THEN 1 ELSE 0 END) AS BIGINT)
           AS decon_flagged,
         CAST(SUM(n_hits) AS BIGINT) AS decon_hits_total,
         CAST(SUM(CASE WHEN contaminated THEN doc_id ELSE 0 END) AS BIGINT)
           AS decon_id_sum
  FROM dec
),
main AS (
  SELECT COUNT(*) AS n_docs, {probes},
         CAST(SUM(CASE WHEN len(regexp_extract_all(text,
           '{REDACT_PATTERN}')) > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS redacted_docs,
         CAST(SUM(len(regexp_extract_all(text, '{REDACT_PATTERN}')))
           AS BIGINT) AS n_redacted_total,
         CAST(SUM(doc_id * len(regexp_extract_all(text,
           '{REDACT_PATTERN}'))) AS BIGINT) AS redact_id_sum,
         CAST(SUM(LENGTH(regexp_replace(text, '{REDACT_PATTERN}',
           '{REDACT_TOKEN}', 'g'))) AS BIGINT) AS redacted_chars
  FROM documents
)
SELECT main.*, dcert.* FROM main, dcert
""".strip()


# -- unigram language-model scoring ----------------------------------------

#: vocabulary truncation for the unigram LM. 24 of the synthetic
#: corpus's 31 terms so the OOV path is exercised; real pipelines use
#: 10⁴-10⁵ (still broadcastable — that is the point of truncating).
VOCAB_K = 24
#: OOV probability floor numerator: p_oov = OOV_FLOOR / total_tokens
OOV_FLOOR = 0.5


def unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average unigram log-probability — the classic
    perplexity-proxy quality score (a cheap stand-in for the KenLM
    filters of CCNet/RefinedWeb): low avg logprob ⇒ unusual token
    distribution ⇒ candidate for dropping.

    Two-pass plan: (1) one explode + partial-aggregated groupBy builds
    corpus term counts; the model is the TOP-``VOCAB_K`` terms
    (count desc, term asc — deterministic at the boundary) plus a
    corpus-total scalar — both BOUNDED relations, so force-broadcasting
    them is safe at any corpus size (the vocabulary is truncated by
    construction; this is why real pipelines cap the vocab). (2) one
    more explode joins each token against the broadcast vocab:
    in-vocab p = count/N, OOV floor = OOV_FLOOR/N, then a per-doc
    partial-aggregated rollup. No shuffle ever carries more than
    (term, count) pairs or per-doc partials; a globally-hot term is
    absorbed by the map-side partial agg."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return unigram_logprob_df(docs).orderBy("doc_id")


def unigram_logprob_df(docs: DataFrame) -> DataFrame:
    """Core per-doc unigram-LM rollup over a (doc_id, text) DataFrame —
    shared by the standalone LOCAL query and the corpus-level
    certificate columns merged into text_quality_scores (see
    unigram_logprob for the plan notes)."""
    toks = docs.select("doc_id", F.explode(_tokens()).alias("term"))
    tc = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    total = tc.agg(F.sum("c").alias("n"))
    vocab = tc.orderBy(F.col("c").desc(), "term").limit(VOCAB_K)
    scored = (
        toks.join(F.broadcast(vocab), "term", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            F.when(F.col("c").isNull(), 1).otherwise(0).alias("oov"),
            F.log(
                F.coalesce(F.col("c").cast("double"), F.lit(OOV_FLOOR))
                / F.col("n")
            ).alias("logp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("oov").alias("n_oov"),
        F.round(F.avg("logp"), 6).alias("avg_logprob"),
    )


def _unigram_ctes(source: str = "documents") -> str:
    """``toks`` → … → ``uni`` CTE block replaying unigram_logprob_df
    over any (doc_id, text) source — shared by the standalone LOCAL
    oracle and the certificate columns inside the quality oracle."""
    return f"""toks AS (
  SELECT doc_id, unnest({_sql_tokens()}) AS term FROM {source}
),
tc AS (SELECT term, COUNT(*) AS c FROM toks GROUP BY term),
tot AS (SELECT SUM(c) AS n FROM tc),
vocab AS (SELECT term, c FROM tc ORDER BY c DESC, term LIMIT {VOCAB_K}),
scored AS (
  SELECT t.doc_id,
         CASE WHEN v.term IS NULL THEN 1 ELSE 0 END AS oov,
         ln(COALESCE(CAST(v.c AS DOUBLE), {OOV_FLOOR!r}) / tot.n) AS logp
  FROM toks t LEFT JOIN vocab v ON t.term = v.term, tot
),
uni AS (
  SELECT doc_id, COUNT(*) AS n_tokens,
         CAST(SUM(oov) AS BIGINT) AS n_oov,
         ROUND(AVG(logp), 6) AS avg_logprob
  FROM scored GROUP BY doc_id
)"""


def _unigram_oracle() -> str:
    return f"WITH {_unigram_ctes()}\nSELECT * FROM uni ORDER BY doc_id"


ORACLE_SQL["text_quality_scores"] = _quality_oracle()
ORACLE_SQL["text_contamination"] = _contamination_oracle()


#: Misra-Gries counter budget for text_frequent_tokens — the
#: detection threshold is N/(counters+1) of all corpus tokens
FREQ_COUNTERS = 64


def text_frequent_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide frequent tokens (> N/(FREQ_COUNTERS+1) of all token
    occurrences) with exact counts — the bounded-memory heavy-hitters
    operator (functions.sketch.frequent_items: Misra-Gries candidate
    scan + exact recount; see that module for the exactness proof).
    At 100 TB this replaces a full distinct-token shuffle with a
    candidate-sized one; the SQL oracle is the plain GROUP BY/HAVING
    the construction provably equals."""
    from guagua_spark.functions.sketch import frequent_items

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    return frequent_items(
        toks, "tok", FREQ_COUNTERS, out_col="n_occurrences"
    )


def _frequent_tokens_oracle() -> str:
    return f"""
WITH toks AS (
  SELECT unnest({_sql_tokens()}) AS tok FROM documents
),
tot AS (SELECT COUNT(*) AS n FROM toks)
SELECT tok, COUNT(*) AS n_occurrences
FROM toks, tot
GROUP BY tok, tot.n
HAVING COUNT(*) > CAST(tot.n AS DOUBLE) / {FREQ_COUNTERS + 1}
ORDER BY n_occurrences DESC, tok
""".strip()


def frequent_tokens_cert_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-row certificate binding text_frequent_tokens into the
    hash-checked tfidf contract row (column-merge pattern, SURVEY.md
    §7). Runs the REAL two-pass operator; ``fi_hash`` u32-binds every
    heavy hitter's (token, exact count) pair, so a missed candidate, a
    phantom item, or a wrong recount each flip an integer."""
    from guagua_spark.functions.scale import u32_hash

    ft = text_frequent_tokens(spark, sf_dir)
    binder = u32_hash(
        "fi",
        F.concat_ws(
            "|", F.col("tok"), F.col("n_occurrences").cast("string")
        ),
    )
    return ft.agg(
        F.count(F.lit(1)).cast("bigint").alias("fi_rows"),
        F.sum("n_occurrences").cast("bigint").alias("fi_occ_sum"),
        F.sum(binder).cast("bigint").alias("fi_hash"),
    )


def _fi_cert_ctes() -> str:
    """``fitoks`` → ``ficert`` 1-row CTE block replaying
    frequent_tokens_cert_df — spliced into the tfidf oracle."""
    u32_row = (
        "CAST(('0x' || substr(md5('fi|' || tok || '|' ||"
        " CAST(n_occurrences AS VARCHAR)), 1, 8)) AS UBIGINT)"
    )
    return f"""fitoks AS (
  SELECT unnest({_sql_tokens()}) AS tok FROM documents
),
fitot AS (SELECT COUNT(*) AS n FROM fitoks),
fihot AS (
  SELECT tok, COUNT(*) AS n_occurrences
  FROM fitoks, fitot GROUP BY tok, fitot.n
  HAVING COUNT(*) > CAST(fitot.n AS DOUBLE) / {FREQ_COUNTERS + 1}
),
ficert AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS fi_rows,
         CAST(SUM(n_occurrences) AS BIGINT) AS fi_occ_sum,
         CAST(SUM({u32_row}) AS BIGINT) AS fi_hash
  FROM fihot
)"""


# (tfidf oracle assignment moved to end of file — its cm_* splice
# needs _cm_cert_ctes)


#: standalone building-block queries kept oracle-tested locally
#: (tests/test_text_ops.py) but not registered with the 50-slot driver
#: contract — their outputs are certified there via the merged columns.
LOCAL_QUERIES = {
    "text_frequent_tokens": text_frequent_tokens,
    "text_bpe_token_counts": bpe_token_counts,
    "text_rolling_fingerprint": rolling_fingerprint,
    "text_repetition_scores": repetition_scores,
    "text_boilerplate_ngrams": boilerplate_ngrams,
    "text_redact_denylist": redact_denylist,
    "text_unigram_logprob": unigram_logprob,
    "text_decontaminate": decontaminate,
    "text_bm25_topk": bm25_topk,
}

LOCAL_ORACLE_SQL = {
    "text_frequent_tokens": _frequent_tokens_oracle(),
    "text_bpe_token_counts": (
        f"SELECT doc_id, len(regexp_extract_all(text, '{BPE_REGEX}')) "
        "AS n_bpe_tokens FROM documents ORDER BY doc_id"
    ),
    "text_rolling_fingerprint": (
        f"SELECT doc_id, {_ROLLING_FP_SQL} AS rolling_fp "
        "FROM documents ORDER BY doc_id"
    ),
    "text_repetition_scores": _repetition_oracle(),
    "text_boilerplate_ngrams": _boilerplate_oracle(),
    "text_redact_denylist": _redact_oracle(),
    "text_unigram_logprob": _unigram_oracle(),
    "text_decontaminate": _decontaminate_oracle(),
    "text_bm25_topk": _bm25_oracle(),
}


def text_distinct_tokens_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary size by HyperLogLog next to its exact truth —
    the bounded-memory DISTINCT-COUNT sketch (functions/sketch.py HLL:
    deterministic md5 registers, libm-free rank ladder, exact-by-
    construction inverse-power sum). At 100 TB the register build
    shuffles ≤ m=1024 rows per partition where COUNT(DISTINCT token)
    shuffles the whole vocabulary; the exact count rides along here as
    the validator column (same contract as the Misra-Gries recount:
    the sketch is certified against plain SQL, not trusted)."""
    from guagua_spark.functions.sketch import (
        hll_estimate_cols,
        hll_registers,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(_tokens()).alias("tok"))
    est = hll_registers(toks, "tok").agg(*hll_estimate_cols())
    exact = toks.agg(
        F.count_distinct("tok").cast("bigint").alias("exact_distinct")
    )
    return est.crossJoin(exact).select(
        "*",
        F.round(
            (F.col("hll_est") - F.col("exact_distinct"))
            / F.col("exact_distinct"),
            6,
        ).alias("rel_err"),
    )


def _distinct_tokens_hll_oracle() -> str:
    from guagua_spark.functions.sketch import (
        hll_bucket_sql,
        hll_estimate_sql,
        hll_rank_sql,
    )

    return f"""
WITH htoks AS (SELECT unnest({_sql_tokens()}) AS tok FROM documents),
hregs AS (
  SELECT {hll_bucket_sql('tok')} AS bucket,
         MAX({hll_rank_sql('tok')}) AS reg
  FROM htoks WHERE tok IS NOT NULL GROUP BY 1
),
hest AS (SELECT {hll_estimate_sql()} FROM hregs),
hex AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS exact_distinct
        FROM htoks)
SELECT hll_used, hll_reg_checksum, hll_est_raw, hll_est, exact_distinct,
       ROUND((hll_est - exact_distinct) / exact_distinct, 6) AS rel_err
FROM hest, hex
""".strip()


LOCAL_QUERIES["text_distinct_tokens_hll"] = text_distinct_tokens_hll
LOCAL_ORACLE_SQL["text_distinct_tokens_hll"] = _distinct_tokens_hll_oracle()


def text_probe_freq_cm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min point-frequency estimates for the fixed BM25 probe
    terms, next to their exact counts — the third sketch family
    (functions/sketch.cm_counters: d·w = 1024 exact integer counters
    over deterministic md5 buckets, constant-size shuffle at any
    corpus, mergeable by addition). ``overcount = cm_est − exact_n``
    is provably ≥ 0 (CM never underestimates); the SQL oracle replays
    counters, probe minima, and exact counts bit-for-bit.

    Round 13 (guide §§1.2, 2.3): ONE per-token count relation feeds
    both the CM fan (cm_counters_weighted — md5s once per distinct
    token, not per occurrence) and the exact probe counts (a filter of
    the same relation, replacing a second corpus-wide tokenize pass);
    the shared tokenize+partial-agg subtree plans a single corpus scan
    with the second consumer served by exchange reuse. Outputs
    row-identical (OPTIMIZATION_r13.md, "text_probe_freq_cm"); full
    query A/B at sf0.1: ~3.8 s → ~1.5 s."""
    from guagua_spark.functions.sketch import (
        cm_counters_weighted,
        cm_estimates,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(_tokens()).alias("tok"))
    tok_counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("_n"))
    counters = cm_counters_weighted(tok_counts, "tok", "_n")
    all_terms = sorted({t for _, ts in BM25_QUERIES for t in ts})
    probes = spark.createDataFrame([(t,) for t in all_terms], "tok string")
    est = cm_estimates(counters, probes, "tok")
    exact = tok_counts.filter(F.col("tok").isin(all_terms)).select(
        "tok", F.col("_n").alias("exact_n")
    )
    ex = F.coalesce(F.col("exact_n"), F.lit(0))
    return (
        est.join(exact, "tok", "left")
        .select(
            "tok",
            F.col("cm_est").cast("bigint").alias("cm_est"),
            ex.cast("bigint").alias("exact_n"),
            (F.col("cm_est") - ex).cast("bigint").alias("overcount"),
        )
        .orderBy("tok")
    )


def _probe_freq_cm_oracle() -> str:
    from guagua_spark.functions.sketch import CM_DEPTH, cm_bucket_sql

    all_terms = sorted({t for _, ts in BM25_QUERIES for t in ts})
    probe_vals = ", ".join(f"({t!r})" for t in all_terms)
    in_list = ", ".join(repr(t) for t in all_terms)
    fan = "\n  UNION ALL\n  ".join(
        f"SELECT {j} AS j, {cm_bucket_sql(j, 'tok')} AS bucket FROM cmt"
        for j in range(CM_DEPTH)
    )
    pfan = "\n  UNION ALL\n  ".join(
        f"SELECT tok, {j} AS j, {cm_bucket_sql(j, 'tok')} AS bucket FROM cmp"
        for j in range(CM_DEPTH)
    )
    return f"""
WITH cmt AS (SELECT unnest({_sql_tokens()}) AS tok FROM documents),
cmfan AS (
  {fan}
),
cmc AS (SELECT j, bucket, COUNT(*) AS n FROM cmfan GROUP BY 1, 2),
cmp(tok) AS (VALUES {probe_vals}),
cmpf AS (
  {pfan}
),
cme AS (
  SELECT tok, MIN(COALESCE(n, 0)) AS cm_est
  FROM cmpf LEFT JOIN cmc USING (j, bucket) GROUP BY tok
),
cmx AS (
  SELECT tok, COUNT(*) AS exact_n FROM cmt
  WHERE tok IN ({in_list}) GROUP BY 1
)
SELECT cme.tok, CAST(cm_est AS BIGINT) AS cm_est,
       CAST(COALESCE(exact_n, 0) AS BIGINT) AS exact_n,
       CAST(cm_est - COALESCE(exact_n, 0) AS BIGINT) AS overcount
FROM cme LEFT JOIN cmx ON cme.tok = cmx.tok
ORDER BY cme.tok
""".strip()


LOCAL_QUERIES["text_probe_freq_cm"] = text_probe_freq_cm
LOCAL_ORACLE_SQL["text_probe_freq_cm"] = _probe_freq_cm_oracle()


def cm_cert_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-row certificate binding text_probe_freq_cm into the tfidf
    contract row: probe count, Σ estimates, Σ exact counts, and a u32
    binder over every (tok, est, exact) triple — a drifted counter, a
    wrong minimum, or a broken probe join each flip an integer."""
    from guagua_spark.functions.scale import u32_hash

    cm = text_probe_freq_cm(spark, sf_dir)
    binder = u32_hash(
        "cmv",
        F.concat_ws(
            "|",
            F.col("tok"),
            F.col("cm_est").cast("string"),
            F.col("exact_n").cast("string"),
        ),
    )
    return cm.agg(
        F.count(F.lit(1)).cast("bigint").alias("cm_rows"),
        F.sum("cm_est").cast("bigint").alias("cm_est_sum"),
        F.sum("exact_n").cast("bigint").alias("cm_exact_sum"),
        F.sum(binder).cast("bigint").alias("cm_hash"),
    )


def _cm_cert_ctes() -> str:
    """The probe-freq-cm oracle body as CTEs ending in a 1-row
    ``cmcert`` — spliced into the tfidf contract oracle."""
    from guagua_spark.functions.sketch import CM_DEPTH, cm_bucket_sql

    all_terms = sorted({t for _, ts in BM25_QUERIES for t in ts})
    probe_vals = ", ".join(f"({t!r})" for t in all_terms)
    in_list = ", ".join(repr(t) for t in all_terms)
    fan = "\n  UNION ALL\n  ".join(
        f"SELECT {j} AS j, {cm_bucket_sql(j, 'tok')} AS bucket FROM cmt"
        for j in range(CM_DEPTH)
    )
    pfan = "\n  UNION ALL\n  ".join(
        f"SELECT tok, {j} AS j, {cm_bucket_sql(j, 'tok')} AS bucket FROM cmp"
        for j in range(CM_DEPTH)
    )
    u32_row = (
        "CAST(('0x' || substr(md5('cmv|' || tok || '|' ||"
        " CAST(cm_est AS VARCHAR) || '|' ||"
        " CAST(exact_n AS VARCHAR)), 1, 8)) AS UBIGINT)"
    )
    return f"""cmt AS (SELECT unnest({_sql_tokens()}) AS tok FROM documents),
cmfan AS (
  {fan}
),
cmc AS (SELECT j, bucket, COUNT(*) AS n FROM cmfan GROUP BY 1, 2),
cmp(tok) AS (VALUES {probe_vals}),
cmpf AS (
  {pfan}
),
cme AS (
  SELECT tok, MIN(COALESCE(n, 0)) AS cm_est
  FROM cmpf LEFT JOIN cmc USING (j, bucket) GROUP BY tok
),
cmx AS (
  SELECT tok, COUNT(*) AS exact_n FROM cmt
  WHERE tok IN ({in_list}) GROUP BY 1
),
cmrows AS (
  SELECT cme.tok, cm_est, COALESCE(exact_n, 0) AS exact_n
  FROM cme LEFT JOIN cmx ON cme.tok = cmx.tok
),
cmcert AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS cm_rows,
         CAST(SUM(cm_est) AS BIGINT) AS cm_est_sum,
         CAST(SUM(exact_n) AS BIGINT) AS cm_exact_sum,
         CAST(SUM({u32_row}) AS BIGINT) AS cm_hash
  FROM cmrows
)"""


ORACLE_SQL["text_tfidf_top_terms"] = _tfidf_oracle()


# -- sf100 sampled twin (round 11) ------------------------------------------


def tfidf_top_terms_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tfidf_top_terms over the deterministic md5 doc subset (the
    'docsamp' rule shared with the dedup twins) — the sweep's
    scale-feasible twin. TF-IDF is a corpus-level statistic, so the
    twin recomputes df/N on the SUBSET corpus (both engines do — same
    interior, same score law); the bm_*/fi_*/cm_* certificates ride
    only the full row (independently certified at sf<=10). The full
    row's 15M output rows at sf100 are past the sweep's row-hash
    compare; ~50k docs keeps both engines at sf0.1 cost."""
    from guagua_spark.functions.scale import u32_hash
    from guagua_spark.operators.dedup import DOC_SAMPLE_TARGET

    docs_all = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    rate = min(1.0, DOC_SAMPLE_TARGET / max(docs_all.count(), 1))
    docs = docs_all.filter(
        u32_hash("docsamp", F.col("doc_id").cast("string"))
        < F.lit(rate * 4294967296.0)
    )
    toks = docs.select("doc_id", F.explode(_tokens()).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    total = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    by_term = Window.partitionBy("term")
    scored = (
        tf.withColumn("df", F.count(F.lit(1)).over(by_term))
        .join(F.broadcast(total))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TFIDF_TOP_K)
        .select("doc_id", "rnk", "term", "tfidf")
        .orderBy("doc_id", "rnk")
    )


def _tfidf_oracle_sampled() -> str:
    from guagua_spark.operators.dedup import DOC_SAMPLE_TARGET

    keep = (
        "CAST(('0x' || substr(md5('docsamp|' || CAST(doc_id AS VARCHAR)),"
        " 1, 8)) AS UBIGINT) < drate.rate * 4294967296.0"
    )
    return f"""
WITH drate AS (
  SELECT LEAST(1.0, {float(DOC_SAMPLE_TARGET)!r}
               / GREATEST(COUNT(*), 1)) AS rate
  FROM documents
),
dsamp AS (SELECT doc_id, text FROM documents, drate WHERE {keep}),
toks AS (
  SELECT doc_id, unnest({_sql_tokens()}) AS term FROM dsamp
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
),
dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
),
total AS (SELECT COUNT(*) AS n_docs FROM dsamp),
scored AS (
  SELECT tf.doc_id, tf.term,
         ROUND(tf.tf * LN(CAST(n_docs AS DOUBLE) / dfreq.df), 6) AS tfidf
  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN total
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term) AS rnk
  FROM scored
)
SELECT doc_id, rnk, term, tfidf
FROM ranked WHERE rnk <= {TFIDF_TOP_K}
ORDER BY doc_id, rnk
""".strip()


SWEEP_SAMPLED = {
    "text_tfidf_top_terms": (
        tfidf_top_terms_sampled,
        _tfidf_oracle_sampled(),
        "u32(md5('docsamp|doc_id')) < min(1, 50000/n_docs)*2^32;"
        " df/N recomputed on the subset corpus; certificate columns"
        " omitted (certified by the full row at sf<=10)",
    ),
}
