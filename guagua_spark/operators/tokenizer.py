"""Distributed BPE tokenizer training on the iterative engine.

The reference's engine exists to run "count → merge → broadcast →
repeat" workloads (master/MasterComputable.java:51-61,
worker/WorkerComputable.java:60-72); byte-pair-encoding merge training
is exactly that shape, and it is the tokenizer-training step of a
large-scale LLM data pipeline: each superstep counts adjacent
symbol-pair frequencies over the corpus vocabulary (worker fold,
Combinable partial), the master picks the argmax pair (deterministic
tie-break) and appends it to the merge list, the merge list broadcasts
to the next superstep (Sennrich et al., ACL 2016, "Neural Machine
Translation of Rare Words with Subword Units" — the public algorithm).

100 TB design:
- the ONLY corpus-sized shuffle is the one-time ``groupBy(word)``
  vocabulary build (map-side combined; at web scale the distinct-word
  table is millions-to-billions of rows — far smaller than the corpus
  but far too big for a driver, hence the engine's partitioned
  load-once cache, engine.py:214 / MemoryDiskList analogue);
- per-iteration traffic is one pair-count dict per worker, bounded by
  the number of DISTINCT adjacent symbol pairs in that partition
  (≤ alphabet² + merges growth, NOT corpus-sized), one frame per
  worker into the driver's gather, merged by the master (api.py
  Combinable → O(P) bounded dicts at the driver);
- workers are stateless between iterations (SURVEY.md §7 hard part #2):
  each superstep re-applies the broadcast merge list to the cached
  vocabulary — O(merges × Σ|word|) per partition, no corpus rescan.

Cross-engine exactness: pair counts are integers, the tie-break is the
bytewise-smallest ``lft || ' ' || rgt`` string (UTF-8 byte order ==
code-point order, DuckDB's default binary collation == Python ``str``
comparison), so the DuckDB oracle — an unrolled K-round CTE chain where
merge application is a single ``REPLACE`` over a double-space symbol
encoding — is hash-exact, same class as the kmeans recursive-CTE replay
(operators/iterative.py).

The double-space encoding makes SQL ``REPLACE`` equal to the canonical
left-to-right non-overlapping list merge: symbols are joined by TWO
spaces and the string padded with one space per side, so every
occurrence of ``' a  b '`` owns one space from each neighbouring gap
and adjacent occurrences never contend (e.g. ``l l l l`` under merge
(l,l) → ``ll ll`` in both engines, not the single-space encoding's
``ll l l``).
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass, field
from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from guagua_spark.api import (
    MasterComputable,
    MasterContext,
    WorkerComputable,
    WorkerContext,
)
from guagua_spark.sources.tables import load_table

#: merge rounds for the query entry — small enough that the unrolled
#: oracle stays readable, large enough to exercise merged-symbol pairs
#: (merges of merges appear by round ~4 on the synthetic corpus)
BPE_MERGES = 8

#: end-of-word marker appended as ONE symbol (never split), so merges
#: can distinguish word-final from word-internal contexts
EOW = "</w>"


def merge_symbols(
    symbols: list[str], lft: str, rgt: str
) -> list[str]:
    """One left-to-right non-overlapping merge pass (the canonical BPE
    apply step). After a merge the cursor skips past the merged token,
    so ``l l l`` under (l, l) becomes ``ll l``."""
    out: list[str] = []
    i, n = 0, len(symbols)
    while i < n:
        if i + 1 < n and symbols[i] == lft and symbols[i + 1] == rgt:
            out.append(lft + rgt)
            i += 2
        else:
            out.append(symbols[i])
            i += 1
    return out


@dataclass
class BPEPartial:
    """Pair-count fold of one vocabulary partition (Combinable)."""

    counts: dict[tuple[str, str], int]
    halt: bool = False

    def combine(self, other: "BPEPartial") -> "BPEPartial":
        merged = Counter(self.counts)
        merged.update(other.counts)
        return BPEPartial(dict(merged), halt=self.halt and other.halt)


@dataclass
class BPEModel:
    """Master result: the ordered merge list learned so far."""

    #: (lft, rgt, pair_freq) per learned merge, in rank order
    merges: list[tuple[str, str, int]] = field(default_factory=list)
    halt: bool = False
    iteration: int = 0


class BPEWorker(WorkerComputable):
    """Counts adjacent symbol pairs over the partition's vocabulary
    after re-applying the broadcast merge list (stateless-task
    reconstruction, api.py module docstring)."""

    def prepare(self, batches: Iterator[pa.RecordBatch]) -> list:
        vocab: list[tuple[str, int]] = []
        for batch in batches:
            d = batch.to_pydict()
            vocab.extend(zip(d["w"], (int(f) for f in d["freq"])))
        return vocab

    def compute_prepared(
        self, context: WorkerContext, vocab: list
    ) -> BPEPartial:
        model: BPEModel | None = context.last_master_result
        merges = [(l, r) for l, r, _ in model.merges] if model else []
        counts: Counter = Counter()
        for word, freq in vocab:
            symbols = list(word) + [EOW]
            for lft, rgt in merges:
                if len(symbols) < 2:
                    break
                symbols = merge_symbols(symbols, lft, rgt)
            for i in range(len(symbols) - 1):
                counts[(symbols[i], symbols[i + 1])] += freq
        return BPEPartial(dict(counts))

    def compute(self, context, batches):  # pragma: no cover - fast path
        return self.compute_prepared(context, self.prepare(batches))


class BPEMaster(MasterComputable):
    """Argmax pair with the deterministic (count DESC, pair-string ASC)
    tie-break; halts when the vocabulary has no pairs left."""

    def compute(self, context: MasterContext) -> BPEModel:
        counts: Counter = Counter()
        for partial in context.worker_results:
            counts.update(partial.counts)
        prev: BPEModel | None = context.master_result
        merges = list(prev.merges) if prev else []
        if not counts:
            return BPEModel(merges, halt=True, iteration=context.current_iteration)
        (lft, rgt), freq = min(
            counts.items(), key=lambda kv: (-kv[1], f"{kv[0][0]} {kv[0][1]}")
        )
        merges.append((lft, rgt, int(freq)))
        return BPEModel(merges, iteration=context.current_iteration)


def build_vocabulary(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(w, freq) distinct-word table — the corpus's only full scan, one
    map-side-combined hash aggregate (house tokenizer contract: split
    on single spaces, text.py:34)."""
    return (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query entry: BPE_MERGES merge rounds over the documents corpus —
    (merge_rank, lft, rgt, pair_freq) in learned order."""
    from guagua_spark.engine import IterativeEngine

    vocab = build_vocabulary(load_table(spark, sf_dir, "documents"))
    model = IterativeEngine(spark).run(
        BPEMaster(), BPEWorker(), vocab, total_iteration=BPE_MERGES
    )
    rows = [
        (rank, lft, rgt, freq)
        for rank, (lft, rgt, freq) in enumerate(model.merges)
    ]
    return spark.createDataFrame(
        rows, "merge_rank int, lft string, rgt string, pair_freq bigint"
    )


def bpe_train_serial(
    words: dict[str, int], num_merges: int
) -> list[tuple[str, str, int]]:
    """Single-process reference replay (golden test twin, same rule)."""
    vocab = [(list(w) + [EOW], f) for w, f in words.items()]
    merges: list[tuple[str, str, int]] = []
    for _ in range(num_merges):
        counts: Counter = Counter()
        for symbols, freq in vocab:
            for i in range(len(symbols) - 1):
                counts[(symbols[i], symbols[i + 1])] += freq
        if not counts:
            break
        (lft, rgt), freq = min(
            counts.items(), key=lambda kv: (-kv[1], f"{kv[0][0]} {kv[0][1]}")
        )
        merges.append((lft, rgt, int(freq)))
        vocab = [(merge_symbols(s, lft, rgt), f) for s, f in vocab]
    return merges


def _bpe_ctes(k: int = BPE_MERGES) -> tuple[str, str]:
    """(CTE chain, merges-union subquery) for the unrolled K-round
    DuckDB replay: vocabulary as the double-space symbol encoding
    (module docstring), per round one pair-count aggregate + one argmax
    + one REPLACE rewrite. Names are ``bpe_``-prefixed so host oracles
    can splice the chain, and every CTE is MATERIALIZED — DuckDB
    inlines CTEs by default and each round references its predecessor
    ~4x, which un-materialized explodes to ~4^K scans (EMFILE'd at
    K=8)."""
    parts = [
        "bpe_words AS MATERIALIZED (SELECT w, COUNT(*) AS freq FROM "
        "(SELECT unnest(string_split(text, ' ')) AS w FROM documents) t "
        "WHERE w <> '' GROUP BY w)",
        # 's' (dotall): RE2's '.' skips \n by default, which would
        # silently DROP newline symbols the Python worker keeps —
        # list(word) and the extract must see identical code points
        "bpe_v0 AS MATERIALIZED (SELECT ' ' || "
        "array_to_string(regexp_extract_all(w, '.', 0, 's'),"
        f" '  ') || '  {EOW} ' AS enc, freq FROM bpe_words)",
    ]
    for r in range(k):
        parts.append(
            f"bpe_p{r} AS MATERIALIZED (SELECT s[i] AS lft, s[i+1] AS rgt, "
            "SUM(freq) AS cnt "
            f"FROM (SELECT unnest(generate_series(1, len(s) - 1)) AS i, s, freq "
            f"FROM (SELECT string_split(trim(enc), '  ') AS s, freq FROM bpe_v{r}) q) u "
            "GROUP BY 1, 2)"
        )
        parts.append(
            f"bpe_b{r} AS MATERIALIZED (SELECT lft, rgt, cnt FROM bpe_p{r} "
            "ORDER BY cnt DESC, lft || ' ' || rgt LIMIT 1)"
        )
        if r + 1 < k:
            parts.append(
                f"bpe_v{r + 1} AS MATERIALIZED (SELECT REPLACE(enc, "
                f"' ' || (SELECT lft FROM bpe_b{r}) || '  ' || "
                f"(SELECT rgt FROM bpe_b{r}) || ' ', "
                f"' ' || (SELECT lft || rgt FROM bpe_b{r}) || ' ') AS enc, "
                f"freq FROM bpe_v{r})"
            )
    union = "\nUNION ALL ".join(
        f"SELECT {r} AS merge_rank, lft, rgt, CAST(cnt AS BIGINT) AS pair_freq "
        f"FROM bpe_b{r}"
        for r in range(k)
    )
    return ",\n".join(parts), union


def _bpe_oracle(k: int = BPE_MERGES) -> str:
    chain, union = _bpe_ctes(k)
    return f"WITH {chain}\n{union}"


def sql_bpe_cert_cte() -> str:
    """``bpe_cert`` 1-row CTE (+ the chain it needs) for splicing into
    a host contract row's oracle — the DuckDB twin of bpe_cert_cols."""
    from guagua_spark.functions.scale import binder_hash_sql

    chain, union = _bpe_ctes()
    binder = binder_hash_sql(
        "bpe",
        "CAST(merge_rank AS VARCHAR)",
        "lft",
        "rgt",
        "CAST(pair_freq AS VARCHAR)",
    )
    return (
        f"{chain},\n"
        "bpe_cert AS MATERIALIZED (SELECT "
        "COUNT(*) AS bpe_n_merges, "
        "CAST(SUM(pair_freq) AS BIGINT) AS bpe_freq_total, "
        f"CAST(SUM({binder}) AS BIGINT) AS bpe_merge_binder "
        f"FROM ({union}) m)"
    )


def bpe_cert_cols(spark: SparkSession, sf_dir: str) -> list:
    """The BPE training certificate as memoized literal columns for a
    contract-row host (certmemo pattern — built ONCE per documents
    fingerprint, warm host calls replay literals with zero Spark jobs):
    merge count, Σ pair_freq, and the Σ-safe rank-weighted binder over
    (merge_rank, lft, rgt, pair_freq) — a reordered, renamed, or
    recounted merge flips the binder. Certifies the engine-trained
    merge list inside the 50-slot cap (SURVEY.md §7)."""
    from guagua_spark.functions.scale import binder_hash_col
    from guagua_spark.operators.certmemo import cached_cert_cols

    return cached_cert_cols(
        spark,
        sf_dir,
        "bpe",
        ("documents",),
        "bpe_n_merges bigint, bpe_freq_total bigint, bpe_merge_binder bigint",
        lambda: bpe_train(spark, sf_dir).agg(
            F.count(F.lit(1)).alias("bpe_n_merges"),
            F.sum("pair_freq").alias("bpe_freq_total"),
            F.sum(
                binder_hash_col(
                    "bpe",
                    F.col("merge_rank"),
                    F.col("lft"),
                    F.col("rgt"),
                    F.col("pair_freq"),
                )
            ).alias("bpe_merge_binder"),
        ),
    )


#: oracle-tested locally (tests/test_tokenizer.py); 50-slot contract full
LOCAL_QUERIES = {"bpe_train": bpe_train}
LOCAL_ORACLE_SQL = {"bpe_train": _bpe_oracle()}
