"""Python UDTF surface — the table-function counterpart of the
grouped-map demo (SURVEY §2.13 family).

``sentences()`` is the API demonstration: a lateral-joinable Python
table function that explodes a document into (sentence_idx, sentence,
n_words) rows. Per the engine's UDF policy (no row-at-a-time Python in
hot paths) the PRODUCTION path for this exact semantics is
``sentence_rows_native`` — pure Column expressions (split + posexplode)
that stay inside whole-stage codegen — and the test suite pins the two
paths equal, so the UDTF surface is exercised without ever being the
only implementation of anything.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import udtf

# Split on sentence enders followed by whitespace; trailing empties
# dropped on both paths. Kept deliberately simple — the point is the
# operator surface, not NLP fidelity.
_SENT_SPLIT = r"(?<=[.!?])\s+"


@udtf(returnType="sentence_idx int, sentence string, n_words int")
class _Sentences:
    def eval(self, text: str):  # noqa: ANN001 - UDTF protocol
        if text is None:
            return
        import re

        parts = [p.strip() for p in re.split(r"(?<=[.!?])\s+", text)]
        for i, p in enumerate(parts):
            if p:
                yield i, p, len(p.split())


def sentences():
    """The UDTF object (register with ``spark.udtf.register`` or call
    in a lateral join)."""
    return _Sentences


def sentence_rows_native(docs: DataFrame) -> DataFrame:
    """Column-expression twin of the UDTF: split + posexplode, fully
    JVM-side. This is the hot-path implementation; the UDTF exists to
    cover the Python-table-function API surface."""
    parts = F.split(F.col("text"), _SENT_SPLIT)
    out = docs.select(
        F.col("doc_id"),
        F.posexplode(parts).alias("sentence_idx", "raw"),
    ).withColumn("sentence", F.trim("raw"))
    return (
        out.filter(F.length("sentence") > 0)
        .select(
            "doc_id",
            F.col("sentence_idx").cast("int").alias("sentence_idx"),
            "sentence",
            F.size(F.split("sentence", r"\s+")).cast("int").alias("n_words"),
        )
    )
