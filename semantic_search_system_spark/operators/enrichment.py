"""Fused enrichment kernel: clean + entities + topics + embedding in ONE Arrow pass.

Cleaning, both extractors and the embedder share one tokenization of the
same content, so the batch is cleaned once, tokenized once, and transferred
over Arrow once. At 10^12 docs the enrichment stage is the dominant compute
— this is the single biggest constant-factor lever.

There is one kernel, ``enrich_arrow`` (a string array in, a struct array
out), with two callers: ``enrich_udf`` wraps it for the Spark plans (the
batch stage and both stream sinks past the driver budget), and the driver
twin of those plans (plans/pipeline._assemble_arrow) calls it in-process
on batches of the same size the UDF receives
(``spark.sql.execution.arrow.maxRecordsPerBatch``). Its front-end,
``clean_arrow_array`` → ``extraction.build_token_stream_arrow``, is the one
tokenizer: ``embedding.embed_batch`` (phrase embeddings for topic_map,
search query vectors) runs it too.

The text cleaning itself runs HERE (pyarrow compute, RE2) rather than as JVM
``regexp_replace``: profiling showed the two Java regex passes were the most
expensive expressions in the whole enrich stage (~11 s per 320k docs at
local[4]), while RE2 does the same work at memory speed — and RE2 is also
what the DuckDB oracle uses, so the engines agree on the regex dialect.

Must stay spec-exact: the kernel's content equals the JVM
``clean_text_col``, its entities equal ``extraction.entities_native``, and
its entities, topics and embeddings equal ``spec.extract_doc`` /
``spec.embed_text`` — pinned by test_fused_enrich_equals_unfused,
test_udf_extraction_equals_native and test_batch_kernels_match_spec.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import spec
from .embedding import embed_list_array
from .extraction import _extract_winners, _winners_list_array, build_token_stream_arrow

_LABELED = T.ArrayType(
    T.StructType([T.StructField("text", T.StringType()), T.StructField("label", T.StringType())])
)
ENRICH_RESULT = T.StructType(
    [
        T.StructField("content", T.StringType()),
        T.StructField("entities", _LABELED),
        T.StructField("topics", _LABELED),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
)


def clean_arrow_array(arr: pa.Array) -> pa.Array:
    """The spec cleaner (lower → strip non-alnum → collapse ws → trim) as
    vectorized Arrow kernels over a string array — RE2, one pass per op, no
    Python per row."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    arr = pc.fill_null(arr, "")
    arr = pc.utf8_lower(arr)
    # Explicit whitespace classes (spec.CLEAN_*_RE), NOT \s: RE2's \s lacks
    # \x0b while Java's has it — the shorthand silently diverged the Arrow
    # hot path from the JVM operators (round-3 ADVICE #1). After the collapse
    # only plain spaces remain, so trim spaces only — exactly JVM F.trim.
    arr = pc.replace_substring_regex(arr, pattern=spec.CLEAN_STRIP_RE, replacement="")
    arr = pc.replace_substring_regex(arr, pattern=spec.CLEAN_WS_RE, replacement=" ")
    return pc.utf8_trim(arr, characters=" ")


def enrich_arrow(contents: pa.Array) -> pa.StructArray:
    """The fused kernel: raw content strings in, (content, entities, topics,
    embedding) structs out, pyarrow-native on both sides. The token stream
    is built ONCE from the cleaned array (C split + dictionary_encode) and
    shared by extract and embed."""
    arr = clean_arrow_array(contents)
    ts = build_token_stream_arrow(arr)
    (er, ev), (tr, tv) = _extract_winners(ts)
    return pa.StructArray.from_arrays(
        [
            arr,
            _winners_list_array(er, ev, ts.n, label="ENTITY"),
            _winners_list_array(tr, tv, ts.n, label="TOPIC"),
            embed_list_array(ts),
        ],
        names=["content", "entities", "topics", "embedding"],
    )


@F.arrow_udf(ENRICH_RESULT)
def enrich_udf(contents: pa.Array) -> pa.Array:
    """``enrich_arrow`` as an Arrow-NATIVE UDF (pyspark 4.1 arrow_udf): no
    pandas materialization on either side of the boundary. The pandas_udf
    form paid an Arrow→pandas conversion of every content string on input
    and (before round 4) a per-element from_pandas walk on output; measured
    23.3 s → 9.0 s per 320k docs at local[1] for the same kernel."""
    return enrich_arrow(contents)


def enrich_content(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Attach cleaned content + entities/topics (array<struct<text,label>>) +
    embedding via the fused UDF. ``content_col`` may be raw (the span join
    of assemble_content) or already clean — the cleaner is idempotent."""
    # the UDF already emits (text, label) structs — no JVM-side transform
    # lambda (CodegenFallback, interpreted per element) in the plan
    df = df.withColumn("_en", enrich_udf(F.col(content_col)))
    return (
        df.withColumn(content_col, F.col("_en.content"))
        .withColumn("entities", F.col("_en.entities"))
        .withColumn("topics", F.col("_en.topics"))
        .withColumn("embedding", F.col("_en.embedding"))
        .drop("_en")
    )
