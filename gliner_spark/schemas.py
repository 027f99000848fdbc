"""Explicit StructType schemas for every table in the pipeline.

The reference's schema is fixed and implicit (tensor names hard-coded at
/root/reference/src/model.cpp:54-68); here every inter-stage table is
declared once. Types follow SURVEY.md §1.2 (byte offsets → LongType,
probs → DoubleType at rest, embeddings → ArrayType(FloatType)).
"""

from pyspark.sql import types as T

# north-rule input shape (BASELINE.json:input_hint)
PAGES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# Span fields (/root/reference/include/GLiNER/gliner_structs.hpp:64-70)
# exploded to long format, keyed by the source row id.
MENTIONS = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("m_start", T.LongType(), False),
        T.StructField("m_end", T.LongType(), False),
        T.StructField("m_text", T.StringType(), False),
        T.StructField("label", T.StringType(), False),
        T.StructField("prob", T.DoubleType(), False),
    ]
)

TRIPLES = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("subj", T.StringType(), False),
        T.StructField("subj_label", T.StringType(), False),
        T.StructField("subj_start", T.LongType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj", T.StringType(), False),
        T.StructField("obj_label", T.StringType(), False),
        T.StructField("obj_start", T.LongType(), False),
        T.StructField("prob", T.DoubleType(), False),
    ]
)

# the NER pass of build_kg and merge_kg_batch: each mention row plus
# the relations it is the subject of, so the mentions and the triples
# (``explode(rels)``) come from one pin or checkpoint stage
MENTION_RELATIONS = T.StructType(
    MENTIONS.fields
    + [
        T.StructField(
            "rels",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField(f.name, f.dataType, False)
                        for f in TRIPLES.fields[4:]
                    ]
                ),
                containsNull=False,
            ),
            False,
        )
    ]
)
