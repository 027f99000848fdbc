"""Pure numpy kernels — unit-testable without a SparkSession.

Each kernel mirrors one stage of the reference pipeline (SURVEY.md §2.1)
and is composed into Spark operators by ``gliner_spark.operators``.
"""
