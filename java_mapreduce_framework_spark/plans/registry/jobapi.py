"""Job-API section of the declared query registry: Mapper/Reducer jobs
run through ``plans.jobs``, the reference's ``Job`` contract."""

from __future__ import annotations

from pyspark.sql import functions as F

from .core import _register, _t, _WORDS_CTE


def _kv_documents(spark, sf):
    from pyspark.sql import functions as F

    return _t(spark, sf, "documents").select(
        F.col("doc_id").cast("string").alias("key"), F.col("text").alias("value")
    )


@_register(
    "jobapi_wordcount",
    _WORDS_CTE + "SELECT word, count(*) AS cnt FROM words GROUP BY word",
    note="WordCount through the Job(map, reduce) API (applyInPandas)",
)
def _jobapi_wordcount(spark, sf):
    from pyspark.sql import functions as F

    from ..jobs import WordCountJob, run_job

    out = run_job(WordCountJob, _kv_documents(spark, sf))
    return out.select(F.col("key").alias("word"), F.col("value").cast("bigint").alias("cnt"))


@_register(
    "jobapi_wordcount_combined",
    _WORDS_CTE + "SELECT word, count(*) AS cnt FROM words GROUP BY word",
    note="WordCount with the Hadoop-style map-side combiner "
    "(combine=True): shuffle carries per-batch partials; same result",
)
def _jobapi_wordcount_combined(spark, sf):
    from pyspark.sql import functions as F

    from ..jobs import WordCountJob, run_job

    out = run_job(WordCountJob, _kv_documents(spark, sf), combine=True)
    return out.select(F.col("key").alias("word"), F.col("value").cast("bigint").alias("cnt"))


@_register(
    "jobapi_wordcount_literal",
    _WORDS_CTE + "SELECT word, count(DISTINCT doc_id) AS n_docs FROM words GROUP BY word",
    note="bug-for-bug reference semantics (reduce = values.length)",
)
def _jobapi_wordcount_literal(spark, sf):
    from pyspark.sql import functions as F

    from ..jobs import LiteralWordCountJob, run_job

    out = run_job(LiteralWordCountJob, _kv_documents(spark, sf))
    return out.select(F.col("key").alias("word"), F.col("value").cast("bigint").alias("n_docs"))


@_register(
    "jobapi_inverted_index",
    _WORDS_CTE
    + """
    SELECT word,
           array_to_string(list_sort(list_distinct(list(doc_id))), ',') AS postings
    FROM words GROUP BY word
    """,
    note="word -> sorted distinct doc_id posting list through the Job API",
)
def _jobapi_inverted_index(spark, sf):
    from pyspark.sql import functions as F

    from ..jobs import InvertedIndexJob, run_job

    out = run_job(InvertedIndexJob, _kv_documents(spark, sf))
    return out.select(F.col("key").alias("word"), F.col("value").alias("postings"))


@_register(
    "jobapi_chained",
    _WORDS_CTE
    + """,
    wc AS (SELECT word, count(*) AS cnt FROM words GROUP BY word)
    SELECT cnt AS freq, count(*) AS n_words FROM wc GROUP BY cnt
    """,
    note="two-stage FIFO composition: WordCount output feeds CountOfCounts",
)
def _jobapi_chained(spark, sf):
    from pyspark.sql import functions as F

    from ..jobs import CountOfCountsJob, WordCountJob, run_job

    stage1 = run_job(WordCountJob, _kv_documents(spark, sf))
    stage2 = run_job(CountOfCountsJob, stage1)
    return stage2.select(
        F.col("key").cast("bigint").alias("freq"),
        F.col("value").cast("bigint").alias("n_words"),
    )


@_register(
    "jobapi_wordcount_e2e",
    _WORDS_CTE + "SELECT word, count(*) AS cnt FROM words GROUP BY word",
    note="reference lifecycle disk-to-disk: kv text dir -> run_job -> kv text sink -> read back",
)
def _jobapi_wordcount_e2e(spark, sf):
    from ..jobs import wordcount_job_e2e

    return wordcount_job_e2e(spark, sf)


@_register(
    "jobapi_grep",
    """
    SELECT CAST(doc_id AS VARCHAR) AS doc_id, text
    FROM documents WHERE text LIKE '%dup%'
    """,
    note="Dean & Ghemawat's other canonical example through the Job "
    "API: matching records pass through a multi-emit map and an "
    "identity reduce untouched",
)
def _jobapi_grep(spark, sf):
    from ..jobs import DistributedGrepJob, run_job

    out = run_job(DistributedGrepJob, _kv_documents(spark, sf))
    return out.select(F.col("key").alias("doc_id"), F.col("value").alias("text"))


@_register(
    "jobapi_reduce_side_join",
    """
    SELECT CAST(o_custkey AS VARCHAR) AS custkey,
           c_name,
           CAST(o_orderkey AS VARCHAR) AS orderkey
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
    note="THE canonical hand-written MapReduce join through the Job "
    "API: tagged inputs, identity map, secondary-sort reduce (the dim "
    "record sorts first, fact side streams with O(1) state)",
)
def _jobapi_reduce_side_join(spark, sf):
    from ..jobs import ReduceSideJoinJob, run_job

    customers = _t(spark, sf, "customer").select(
        F.col("c_custkey").cast("string").alias("key"),
        F.concat(F.lit("C\t"), F.col("c_name")).alias("value"),
    )
    orders = _t(spark, sf, "orders").select(
        F.col("o_custkey").cast("string").alias("key"),
        F.concat(F.lit("O\t"), F.col("o_orderkey").cast("string")).alias("value"),
    )
    out = run_job(ReduceSideJoinJob, customers.unionByName(orders))
    sp = F.split("value", "\t")
    return out.select(
        F.col("key").alias("custkey"),
        sp.getItem(0).alias("c_name"),
        sp.getItem(1).alias("orderkey"),
    )
