"""Python UDTF surface (1-row → N-rows table functions).

The engine's default 1→N shape is JVM-side ``explode`` over an array
expression (plans/corpus.q_chunk_documents — whole-stage codegen, scan
speed); ``mapInPandas`` covers Arrow-batched kernels (operators/
multimodal.py). A declared UDTF is the third form: genuinely imperative
per-row expansion logic with UDTF semantics (LATERAL join), for the cases
where the expansion can't be stated as an array expression. It runs
row-at-a-time in Python workers — the SLOWEST of the three forms; use it
for expressiveness, never in a 100-TB hot path when an expression form
exists. Kept deterministic (regex split + trim) so the DuckDB oracle
checks it exactly like any relational operator.
"""

from __future__ import annotations

import re

from pyspark.sql.functions import udtf

_SENT_RE = re.compile(r"[.!?]+")
_TRIM = " \t\n\r"


@udtf(returnType="doc_id: bigint, sent_idx: int, sentence: string")
class SentenceSplitter:
    """Split a document into trimmed, non-empty sentences with a stable
    per-document index; mirrors DuckDB
    ``string_split_regex(text, '[.!?]+')`` + trim + filter semantics."""

    def eval(self, doc_id: int, text: str):  # noqa: D102 (UDTF contract)
        idx = 0
        for part in _SENT_RE.split(text or ""):
            p = part.strip(_TRIM)
            if p:
                yield doc_id, idx, p
                idx += 1


_WORD_RE = re.compile(r"\W+")


@udtf
class FirstWords:
    """POLYMORPHIC UDTF: output schema computed at plan time by a static
    ``analyze()`` from a constant argument — ``first_words(doc_id, text, 3)``
    yields columns (doc_id, word_1..word_3). This is the Spark 4 surface for
    table functions whose shape depends on their call site (fixed-width
    splitters, pivot-like expanders); the schema is resolved once during
    analysis, so downstream operators bind to real columns (no MapType
    escape hatch, full pruning). Tokenization is the engine's shared regex
    (operators/text.tokens), so the DuckDB mirror is exact; short documents
    pad with NULL — same as list indexing past the end in the oracle."""

    @staticmethod
    def analyze(doc_id, text, n):
        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
        )
        from pyspark.sql.udtf import AnalyzeResult

        if not isinstance(n.value, int) or n.value < 1:
            raise ValueError("first_words: n must be a positive constant")
        fields = [StructField("doc_id", LongType())] + [
            StructField(f"word_{i + 1}", StringType()) for i in range(n.value)
        ]
        return AnalyzeResult(StructType(fields))

    def eval(self, doc_id: int, text: str, n: int):  # noqa: D102 (UDTF contract)
        toks = [t for t in _WORD_RE.split((text or "").lower()) if t]
        yield tuple(
            [doc_id] + [toks[i] if i < len(toks) else None for i in range(n)]
        )


def register_udtfs(spark) -> None:
    """Register all engine UDTFs on a session (idempotent)."""
    spark.udtf.register("sentence_split", SentenceSplitter)
    spark.udtf.register("lang_summary", LangSummarizer)
    spark.udtf.register("first_words", FirstWords)


@udtf(returnType="lang: string, n_docs: bigint, total_tokens: bigint, best_doc: bigint")
class LangSummarizer:
    """TABLE-argument UDTF (``f(TABLE(...) PARTITION BY lang)``): consumes
    one partition's rows imperatively and emits a single summary row from
    ``terminate()`` — the per-GROUP custom-aggregation surface callable
    straight from SQL, sibling to ``groupBy().applyInPandas`` (Arrow,
    preferred at volume) with UDTF ergonomics instead of a kernel function.

    Best-doc selection is a total order (quality_score DESC, doc_id ASC),
    so the output is engine-exact; partial sums are ints (exact under any
    arrival order)."""

    def __init__(self) -> None:
        self._lang = None
        self._n = 0
        self._tokens = 0
        self._best: tuple | None = None  # (-quality, doc_id) minimized

    def eval(self, row):  # noqa: D102 (UDTF contract; row = TABLE argument)
        self._lang = row["lang"]
        self._n += 1
        self._tokens += int(row["n_tokens"])
        key = (-float(row["quality_score"]), int(row["doc_id"]))
        if self._best is None or key < self._best:
            self._best = key

    def terminate(self):  # noqa: D102
        if self._n:
            yield self._lang, self._n, self._tokens, self._best[1]
