"""Gate entries for the training-data pipeline + relational operators.
Merged into GATE_QUERIES by gate.py. Documents/embeddings tables are
registered as views from the sf_dir parquet in each query fn."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .pipeline import (curation, dedup, events, media, packing,
                       relational, sampling, similarity, spans, temporal,
                       text)

EMB_QUERY_IDS = [0, 1, 2, 3]


def _parallelism(spark: SparkSession) -> int:
    return int(spark.conf.get("spark.sql.shuffle.partitions"))


def _spread(spark: SparkSession, path: str, per_part: int = 64 << 10
            ) -> DataFrame:
    """Read a parquet file or directory and spread it for CPU-heavy
    downstream work with SIZE-ADAPTIVE parallelism: one partition per
    ~64 KB of input, capped at the session parallelism. The old fixed
    .repartition(shuffle_partitions) paid a 32-task exchange + stage
    per gate even when the input was a few hundred KB — at sf0.1 that
    fixed overhead dominated every doc_* phase (measured: exact_dedup
    1.06 s -> 0.52 s, minhash_lsh 1.61 s -> 1.03 s). At scale the
    cap keeps it at cluster parallelism, and multi-file inputs arrive
    already split; a 1-partition target skips the exchange outright."""
    import os
    df = spark.read.parquet(path)
    try:
        if os.path.isdir(path):
            # Spark's output layout; like Spark, skip "_"/"." files
            # (_SUCCESS markers, .crc checksums)
            size = sum(e.stat().st_size for e in os.scandir(path)
                       if e.is_file() and not e.name.startswith(("_", ".")))
        else:
            size = os.path.getsize(path)
    except OSError:
        size = per_part * _parallelism(spark)
    target = max(1, min(_parallelism(spark), size // per_part))
    return df.repartition(int(target)) if target > 1 else df


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread before the CPU-heavy shingle/hash work or everything runs
    # on one core (size-adaptive — see _spread)
    return _spread(spark, f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spread(spark, f"{sf_dir}/embeddings.parquet")


def q_exact_dedup(spark, sf_dir):
    # no pre-spread: the md5 is cheap per doc and the groupBy shuffles
    # 40-byte hashes — repartitioning first would shuffle the full text
    # payload just to parallelize a hash (guide §8 anti-pattern); at
    # scale the multi-file scan is already parallel
    return dedup.exact_dedup(
        spark.read.parquet(f"{sf_dir}/documents.parquet")) \
        .orderBy("text_hash")


def q_minhash_incremental(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return dedup.minhash_incremental_candidates(
        d.where("doc_id % 5 = 0"), d.where("doc_id % 5 <> 0")) \
        .orderBy("new_id", "seen_id")


DOMAIN_CAP_K = 30


def _canon_docs(spark, sf_dir):
    """documents + url + canon_url + registrable domain (the shared
    front of the r7 URL/domain curation gates)."""
    d = curation.with_url(_docs(spark, sf_dir))
    d = curation.url_canonicalize(d)
    return curation.registrable_domain(d)


def q_url_canonical(spark, sf_dir):
    import pyspark.sql.functions as F
    return (_canon_docs(spark, sf_dir)
            .select(F.col("doc_id").cast("bigint").alias("doc_id"),
                    "url", "canon_url")
            .orderBy("doc_id"))


def q_domain_rollup(spark, sf_dir):
    import pyspark.sql.functions as F
    return (_canon_docs(spark, sf_dir)
            .groupBy("domain")
            .agg(F.count("*").cast("bigint").alias("n_docs"),
                 F.countDistinct("canon_url").cast("bigint")
                 .alias("n_urls"))
            .orderBy("domain"))


def q_domain_cap(spark, sf_dir):
    import pyspark.sql.functions as F
    return (curation.domain_cap(_canon_docs(spark, sf_dir),
                                DOMAIN_CAP_K)
            .select(F.col("doc_id").cast("bigint").alias("doc_id"),
                    "domain", "rk")
            .orderBy("domain", "rk"))


def q_url_dedup(spark, sf_dir):
    return (curation.url_dedup(_canon_docs(spark, sf_dir))
            .orderBy("canon_url"))


def q_span_dedup(spark, sf_dir):
    return spans.span_dedup(_docs(spark, sf_dir)).orderBy("doc_id")


def q_model_filter(spark, sf_dir):
    return text.model_quality_filter(_docs(spark, sf_dir)) \
        .orderBy("doc_id")


def q_gzip_roundtrip(spark, sf_dir):
    """Compressed-corpus ingestion (WARC-ish front door): deflate the
    fixture text, inflate it back, fingerprint — the oracle compares
    against the uncompressed source, proving the byte-exact
    round-trip."""
    return text.decompress_corpus(
        text.synth_zlib_corpus(_docs(spark, sf_dir))).orderBy("doc_id")


_ORC_ROUNDTRIP = {}


def q_orc_roundtrip(spark, sf_dir):
    """ORC source + sink (the second columnar format Spark ships
    built-in next to parquet — a complete engine reads the lake it
    lands in): the corpus is written as lang-PARTITIONED ORC (zlib,
    the partition column leaves the file and comes back from the
    directory layout, same as the parquet layout gates), read back
    through the ORC vectorized reader, and content-fingerprinted —
    per-lang row count, n_chars sum, and an md5-prefix checksum of
    every text, so a single corrupted byte anywhere flips the compare.
    The oracle computes the identical fingerprint from the PARQUET
    source in DuckDB, proving write→read is byte-exact.

    -> (lang, n, sum_chars, text_fp), ordered."""
    key = (sf_dir, "orc")
    res = _ORC_ROUNDTRIP.get(key)
    if res is None:
        import shutil
        import tempfile

        from pyspark.sql import functions as F

        docs = _docs(spark, sf_dir)
        base = tempfile.mkdtemp(prefix="gate_orc_")
        try:
            docs.write.mode("overwrite").partitionBy("lang") \
                .option("compression", "zlib").orc(f"{base}/docs")
            back = spark.read.orc(f"{base}/docs")
            fp = F.conv(F.substring(F.md5("text"), 1, 8), 16, 10) \
                .cast("bigint")
            res = (back.groupBy("lang")
                   .agg(F.count("*").cast("bigint").alias("n"),
                        F.sum("n_chars").cast("bigint")
                        .alias("sum_chars"),
                        F.sum(fp).cast("bigint").alias("text_fp"))
                   .localCheckpoint(eager=True))
            _ORC_ROUNDTRIP[key] = res
        finally:
            shutil.rmtree(base, ignore_errors=True)
    return res.orderBy("lang")


def oracle_orc_roundtrip() -> str:
    return """
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT)
           AS text_fp
FROM documents GROUP BY lang ORDER BY lang
"""


_CSV_ROUNDTRIP = {}

# CSV-hostile derivation, identical ANSI text on both engines: the
# corpus text is separator/quote/newline-free by construction, so a
# plain roundtrip would never exercise quoting — this plants embedded
# quotes, commas, AND a literal newline in every row
_CSV_TEXT_SQL = ("('\"' || replace(substr(text, 1, 80), ' ', ',') "
                 "|| chr(10) || lang || '\"')")


def q_csv_roundtrip(spark, sf_dir):
    """CSV source + sink under ADVERSARIAL content — every row's text
    is rewritten (engine-identically) to contain embedded double
    quotes, commas, and a literal newline, then written as RFC-4180
    CSV (quote-doubling escape) and read back through the multiLine
    parser. Per-lang count / n_chars sum / md5-prefix checksum of the
    hostile text must equal the oracle's fingerprint computed from
    the parquet source — one mis-quoted byte or a row split at the
    embedded newline flips the compare. (multiLine is the expensive
    CSV path: files stop being line-splittable, so a 100 TB ingest
    shards by FILE, not by byte range — many medium files beat few
    huge ones; the plain fast path stays splittable.)

    -> (lang, n, sum_chars, text_fp), ordered."""
    key = (sf_dir, "csv")
    res = _CSV_ROUNDTRIP.get(key)
    if res is None:
        import shutil
        import tempfile

        from pyspark.sql import functions as F

        docs = _docs(spark, sf_dir).select(
            "doc_id", "lang", "n_chars",
            F.expr(_CSV_TEXT_SQL).alias("csv_text"))
        base = tempfile.mkdtemp(prefix="gate_csv_")
        try:
            (docs.write.mode("overwrite").option("header", True)
             .option("quote", '"').option("escape", '"')
             .csv(f"{base}/docs"))
            back = (spark.read
                    .schema("doc_id BIGINT, lang STRING, "
                            "n_chars BIGINT, csv_text STRING")
                    .option("header", True).option("multiLine", True)
                    .option("quote", '"').option("escape", '"')
                    .csv(f"{base}/docs"))
            fp = F.conv(F.substring(F.md5("csv_text"), 1, 8), 16, 10) \
                .cast("bigint")
            res = (back.groupBy("lang")
                   .agg(F.count("*").cast("bigint").alias("n"),
                        F.sum("n_chars").cast("bigint")
                        .alias("sum_chars"),
                        F.sum(fp).cast("bigint").alias("text_fp"))
                   .localCheckpoint(eager=True))
            _CSV_ROUNDTRIP[key] = res
        finally:
            shutil.rmtree(base, ignore_errors=True)
    return res.orderBy("lang")


def oracle_csv_roundtrip() -> str:
    return f"""
WITH h AS (SELECT lang, n_chars, {_CSV_TEXT_SQL} AS csv_text
           FROM documents)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(('0x' || substr(md5(csv_text), 1, 8))::BIGINT)
            AS BIGINT) AS text_fp
FROM h GROUP BY lang ORDER BY lang
"""


_DYN_OVERWRITE = {}


def q_dynamic_overwrite(spark, sf_dir):
    """Dynamic partition overwrite — the lakehouse incremental-ingest
    idiom: ``partitionOverwriteMode=dynamic`` makes INSERT OVERWRITE
    replace ONLY the partitions the incoming batch touches, leaving
    every other partition's files untouched (static mode would wipe
    the whole table root). Fixture: the corpus lands partitioned by
    lang; a re-ingest batch containing only the 'en' docs with a
    bumped marker column overwrites; the read-back table must show
    v1 for 'en' and v0 everywhere else — per-lang counts, marker sums
    and a text fingerprint so silently-dropped or duplicated rows in
    ANY partition flip the compare. -> (lang, n, marker_sum, text_fp).
    """
    key = (sf_dir, "dyn_overwrite")
    res = _DYN_OVERWRITE.get(key)
    if res is None:
        import shutil
        import tempfile

        from pyspark.sql import functions as F

        docs = _docs(spark, sf_dir)
        base = tempfile.mkdtemp(prefix="gate_dynow_")
        mode_key = "spark.sql.sources.partitionOverwriteMode"
        old_mode = spark.conf.get(mode_key, "STATIC")
        try:
            t = f"{base}/docs"
            docs.withColumn("marker", F.lit(0)) \
                .write.mode("overwrite").partitionBy("lang").parquet(t)
            spark.conf.set(mode_key, "dynamic")
            docs.where("lang = 'en'").withColumn("marker", F.lit(1)) \
                .write.mode("overwrite").partitionBy("lang").parquet(t)
            back = spark.read.parquet(t)
            fp = F.conv(F.substring(F.md5("text"), 1, 8), 16, 10) \
                .cast("bigint")
            res = (back.groupBy("lang")
                   .agg(F.count("*").cast("bigint").alias("n"),
                        F.sum("marker").cast("bigint")
                        .alias("marker_sum"),
                        F.sum(fp).cast("bigint").alias("text_fp"))
                   .localCheckpoint(eager=True))
            _DYN_OVERWRITE[key] = res
        finally:
            spark.conf.set(mode_key, old_mode)
            shutil.rmtree(base, ignore_errors=True)
    return res.orderBy("lang")


def oracle_dynamic_overwrite() -> str:
    return """
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
           AS marker_sum,
       CAST(SUM(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT)
           AS text_fp
FROM documents GROUP BY lang ORDER BY lang
"""


_SCHEMA_MERGE = {}


def q_schema_merge(spark, sf_dir):
    """Parquet schema evolution (``mergeSchema``) — the multi-year-
    lake reality: old shards lack columns newer shards carry. Shard A
    (even doc_ids) lands WITHOUT the later ``quality`` column; shard B
    (odd) carries it; reading the directory with mergeSchema=true must
    union the schemas and NULL-fill the absent column for old files —
    NULL (unknown), not a default. The rollup splits counts by
    quality-known/unknown per lang and checksums doc_ids on each side,
    so misfiled NULLs or a dropped shard flip the compare.

    -> (lang, n, n_quality_null, sum_quality, id_sum)."""
    key = (sf_dir, "schema_merge")
    res = _SCHEMA_MERGE.get(key)
    if res is None:
        import shutil
        import tempfile

        from pyspark.sql import functions as F

        docs = _docs(spark, sf_dir)
        base = tempfile.mkdtemp(prefix="gate_schmerge_")
        try:
            t = f"{base}/docs"
            docs.where("doc_id % 2 = 0") \
                .select("doc_id", "lang") \
                .write.mode("overwrite").parquet(t)
            docs.where("doc_id % 2 = 1") \
                .select("doc_id", "lang",
                        (F.col("n_chars") % 4).cast("bigint")
                        .alias("quality")) \
                .write.mode("append").parquet(t)
            back = spark.read.option("mergeSchema", "true").parquet(t)
            res = (back.groupBy("lang")
                   .agg(F.count("*").cast("bigint").alias("n"),
                        F.sum(F.col("quality").isNull().cast("int"))
                        .cast("bigint").alias("n_quality_null"),
                        F.sum(F.coalesce("quality", F.lit(0)))
                        .cast("bigint").alias("sum_quality"),
                        F.sum("doc_id").cast("bigint").alias("id_sum"))
                   .localCheckpoint(eager=True))
            _SCHEMA_MERGE[key] = res
        finally:
            shutil.rmtree(base, ignore_errors=True)
    return res.orderBy("lang")


def oracle_schema_merge() -> str:
    return """
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_quality_null,
       CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN n_chars % 4 ELSE 0 END)
            AS BIGINT) AS sum_quality,
       CAST(SUM(doc_id) AS BIGINT) AS id_sum
FROM documents GROUP BY lang ORDER BY lang
"""


def q_repetition(spark, sf_dir):
    return spans.repetition_stats(_docs(spark, sf_dir)).orderBy("doc_id")


def q_cdc_chunks(spark, sf_dir):
    return spans.cdc_chunks(_docs(spark, sf_dir)) \
        .orderBy("doc_id", "chunk_idx")


def q_kmeans_assign(spark, sf_dir):
    return similarity.kmeans_assign(_emb(spark, sf_dir)).orderBy("vec_id")


def q_kmeans_update(spark, sf_dir):
    return similarity.kmeans_update(_emb(spark, sf_dir)) \
        .orderBy("cid", "dim")


def q_decontaminate(spark, sf_dir):
    # held-out eval set = a deterministic 1-in-7 doc_id split of the
    # fixture corpus (stand-in for a real eval-benchmark table)
    from pyspark.sql import functions as F
    d = _docs(spark, sf_dir)
    return spans.decontaminate(d.where(F.col("doc_id") % 7 != 3),
                               d.where(F.col("doc_id") % 7 == 3)) \
        .orderBy("doc_id")


_PII_TEXT_SQL = ("text || ' contact user' || CAST(doc_id AS VARCHAR) "
                 "|| '@mail' || CAST(doc_id % 50 AS VARCHAR) "
                 "|| '.example.com from 10.' "
                 "|| CAST(doc_id % 256 AS VARCHAR) || '.0.' "
                 "|| CAST(doc_id % 100 AS VARCHAR)")


def q_pii_scrub(spark, sf_dir):
    """PII redaction over a deterministically-PII-seeded text column
    (the raw fixture has none): both engines derive the same string
    with pure concat/cast arithmetic, then scrub emails + IPv4s."""
    from pyspark.sql import functions as F
    d = _docs(spark, sf_dir).withColumn("text", F.concat(
        F.col("text"), F.lit(" contact user"),
        F.col("doc_id").cast("string"), F.lit("@mail"),
        (F.col("doc_id") % 50).cast("string"),
        F.lit(".example.com from 10."),
        (F.col("doc_id") % 256).cast("string"), F.lit(".0."),
        (F.col("doc_id") % 100).cast("string")))
    return text.pii_scrub(d).orderBy("doc_id")


def q_stratified_sample(spark, sf_dir):
    # per-(lang, source) quota of 7, hash-rank deterministic — stable
    # under repartitioning/retries, unlike partition-order df.sample()
    from pyspark.sql import functions as F
    return (sampling.stratified_sample(_docs(spark, sf_dir),
                                       ["lang", "source"], 7)
            .select(F.col("doc_id").cast("bigint"), "lang", "source")
            .orderBy("doc_id"))


def q_hash_sample(spark, sf_dir):
    from pyspark.sql import functions as F
    return (sampling.hash_sample(_docs(spark, sf_dir), 0.25)
            .select(F.col("doc_id").cast("bigint"))
            .orderBy("doc_id"))


def q_mixture_sample(spark, sf_dir):
    # per-language epoch weights incl. fractional + >1 (replication)
    return sampling.mixture_sample(_docs(spark, sf_dir)) \
        .orderBy("doc_id", "epoch")


def q_surprisal_filter(spark, sf_dir):
    # perplexity-filter analogue: self-trained unigram LM, integer
    # floor(log2 N/cnt) surprisal — see text.surprisal_filter
    return text.surprisal_filter(_docs(spark, sf_dir)).orderBy("doc_id")


def q_curation_pipeline(spark, sf_dir):
    """END-TO-END curation composition — the flow a real training-data
    job runs, as ONE gated query: quality-score every document, keep
    quality >= 2, then walk each language's survivors in seeded-hash
    order under a 4000-char budget. Exercises operator COMPOSITION
    (filter feeding the window) rather than ops in isolation; the
    oracle recomputes the whole chain in SQL."""
    from pyspark.sql import functions as F
    docs = _docs(spark, sf_dir)
    kept = docs.join(
        text.quality_score(docs).where(F.col("quality") >= 2), "doc_id")
    out = sampling.budget_sample(kept, ["lang"], 4000, "n_chars")
    return (out.select(F.col("doc_id").cast("bigint"), "lang",
                       F.col("n_chars").cast("bigint"),
                       F.col("quality").cast("bigint"))
            .orderBy("doc_id"))


def oracle_curation_pipeline() -> str:
    qsql = text.oracle_quality_score()
    key = sampling._key_sql("k.doc_id", 17)
    return f"""
WITH q AS ({qsql}),
kept AS (
  SELECT d.doc_id, d.lang, d.n_chars, q.quality
  FROM documents d JOIN q ON q.doc_id = d.doc_id
  WHERE q.quality >= 2),
walked AS (
  SELECT k.*, SUM(k.n_chars) OVER (PARTITION BY k.lang
      ORDER BY {key}, k.doc_id ROWS UNBOUNDED PRECEDING) AS cum
  FROM kept k)
SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
       CAST(n_chars AS BIGINT) AS n_chars,
       CAST(quality AS BIGINT) AS quality
FROM walked WHERE cum <= 4000
ORDER BY doc_id
"""


def q_budget_sample(spark, sf_dir):
    # "5000 chars per language" curation walk in seeded-hash order
    from pyspark.sql import functions as F
    return (sampling.budget_sample(_docs(spark, sf_dir), ["lang"],
                                   5000, "n_chars")
            .select(F.col("doc_id").cast("bigint"), "lang",
                    F.col("n_chars").cast("bigint"))
            .orderBy("doc_id"))


def q_jaccard_pairs(spark, sf_dir):
    # tau = 0.3: 10 * inter >= 3 * union
    return dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), num=3, den=10) \
        .orderBy("doc_a", "doc_b")


def q_minhash_lsh(spark, sf_dir):
    return dedup.minhash_lsh_candidates(_docs(spark, sf_dir)) \
        .orderBy("doc_a", "doc_b")


def q_dup_clusters(spark, sf_dir):
    # transitive closure over the SAME minhash-LSH candidate pairs the
    # doc_minhash_lsh gate proves equal to DuckDB; min-id representative
    return dedup.dup_clusters(
        dedup.minhash_lsh_candidates(_docs(spark, sf_dir))) \
        .orderBy("doc_id")


def q_dup_clusters_incremental(spark, sf_dir):
    # INCREMENTAL cluster maintenance must reproduce the from-scratch
    # labeling bit-for-bit: label the corpus-minus-shard pairs, then
    # fold in the shard's pairs (vs-index + shard-internal) via the
    # supernode contraction — banding is per-doc, so
    # {old×old} ∪ {shard×old} ∪ {shard×shard} IS the full-corpus
    # candidate set and the doc_dup_clusters oracle applies unchanged
    from pyspark.sql import functions as F
    docs = _docs(spark, sf_dir)
    old = docs.where("doc_id % 5 != 0")
    shard = docs.where("doc_id % 5 = 0")
    labels = dedup.dup_clusters(dedup.minhash_lsh_candidates(old))
    new_pairs = (dedup.minhash_incremental_candidates(shard, old)
                 .select(F.col("new_id").alias("doc_a"),
                         F.col("seen_id").alias("doc_b"))
                 .union(dedup.minhash_lsh_candidates(shard)))
    return dedup.merge_clusters(labels, new_pairs).orderBy("doc_id")


def q_simhash(spark, sf_dir):
    return dedup.simhash_fingerprints(_docs(spark, sf_dir)).orderBy("doc_id")


def q_token_stats(spark, sf_dir):
    return text.token_stats(_docs(spark, sf_dir)).orderBy("doc_id")


def q_incremental_dedup(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    seen = docs.where("doc_id % 3 = 0")
    new = docs.where("doc_id % 3 <> 0")
    return dedup.incremental_dedup(new, seen).orderBy("text_hash")


def q_length_quantiles(spark, sf_dir):
    return text.length_quantiles(_docs(spark, sf_dir)).orderBy("lang")


SPLIT_FRACS = {"train": 0.9, "val": 0.05, "test": 0.05}


def q_assign_splits(spark, sf_dir):
    return sampling.assign_splits(_docs(spark, sf_dir), SPLIT_FRACS) \
        .select("doc_id", "lang", "split").orderBy("doc_id")


def q_ngram_counts(spark, sf_dir):
    return text.ngram_counts(_docs(spark, sf_dir))


def q_jsonl_ingest(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return text.jsonl_ingest(text.synth_jsonl_corpus(docs)) \
        .orderBy("doc_id")


def q_evt_funnel(spark, sf_dir):
    return events.funnel(events._events(spark, sf_dir)) \
        .orderBy("user_id")


def q_evt_props(spark, sf_dir):
    return events.props_stats(events._events(spark, sf_dir)) \
        .orderBy("event_type")


def q_knn_label(spark, sf_dir):
    return similarity.knn_label(_emb(spark, sf_dir), EMB_QUERY_IDS, 5) \
        .orderBy("qid")


def q_evt_retention(spark, sf_dir):
    return events.retention(events._events(spark, sf_dir)) \
        .orderBy("cohort_day", "day_offset")


def q_global_shuffle(spark, sf_dir):
    return sampling.global_shuffle(_docs(spark, sf_dir)).orderBy("pos")


def q_quantize_int8(spark, sf_dir):
    return similarity.quantize_int8(_emb(spark, sf_dir)) \
        .orderBy("vec_id")


def q_pq_topk(spark, sf_dir):
    return similarity.pq_topk(_emb(spark, sf_dir), EMB_QUERY_IDS, 5) \
        .orderBy("qid", "rank")


def q_evt_transitions(spark, sf_dir):
    return events.transitions(events._events(spark, sf_dir)) \
        .orderBy("src", "dst")


def q_rel_pivot(spark, sf_dir):
    return relational.orders_status_pivot(spark, sf_dir) \
        .orderBy("nation")


_STREAM_DEDUP = {}


_STREAM_IDEMPOTENT = {}


def q_stream_idempotent_sink(spark, sf_dir):
    """EXACTLY-ONCE SINK under full redelivery — the production
    foreachBatch idempotence pattern the restart gates don't cover:
    the sink partitions by batch_id and dynamic-overwrites ONLY that
    partition, so replayed batches replace themselves instead of
    appending. The harness forces the worst case: after a complete
    availableNow delivery (two batches via maxFilesPerTrigger=1), the
    CHECKPOINT IS DELETED — every offset lost — and the query reruns
    from scratch, redelivering 100%% of the data. The final sink must
    hold exactly ONE copy of every row (a plain append sink holds two
    — pinned in tests/test_streaming.py). Output is data-only (no
    batch ids): file->batch assignment order is listing-dependent,
    the surviving CONTENT is not.
    -> (event_id, user_id), ordered."""
    key = (sf_dir, "idempotent")
    res = _STREAM_IDEMPOTENT.get(key)
    if res is None:
        import shutil
        import tempfile

        from pyspark.sql import functions as F

        ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
            .select("event_id", "user_id")
        base = tempfile.mkdtemp(prefix="gate_idem_")
        try:
            src, out, ckpt = f"{base}/src", f"{base}/out", f"{base}/ck"

            def sink(bdf, bid):
                (bdf.withColumn("batch_id", F.lit(bid).cast("bigint"))
                 .write.mode("overwrite")
                 .option("partitionOverwriteMode", "dynamic")
                 .partitionBy("batch_id").parquet(out))

            def run():
                s = (spark.readStream
                     .schema("event_id bigint, user_id bigint")
                     .option("maxFilesPerTrigger", 1).parquet(src))
                (s.writeStream.foreachBatch(sink)
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start()
                 .awaitTermination(300))

            ev.where("event_id % 2 = 0").coalesce(1) \
                .write.mode("overwrite").parquet(src)
            ev.where("event_id % 2 = 1").coalesce(1) \
                .write.mode("append").parquet(src)
            run()                      # delivery 1: all data, 2 batches
            shutil.rmtree(ckpt)        # lose EVERY offset
            run()                      # full redelivery of everything
            res = spark.read.parquet(out) \
                .select("event_id", "user_id") \
                .localCheckpoint(eager=True)
            _STREAM_IDEMPOTENT[key] = res
        finally:
            shutil.rmtree(base, ignore_errors=True)
    return res.orderBy("event_id")


def oracle_stream_idempotent_sink() -> str:
    return """
SELECT event_id, user_id FROM events ORDER BY event_id
"""


def q_stream_dedup(spark, sf_dir):
    """Streaming ingest-time dedup: a file-source doc stream deduped on
    content hash with ``dropDuplicates`` STATE persisting across two
    availableNow runs of the same checkpoint — a hash first seen in
    batch 0 must NOT re-emit when batch 1 replays it (the state-store
    restart contract), so each surviving hash carries the run that
    first saw it. Deterministic at batch granularity regardless of
    partition order: the emitted SET per run is fixed even though
    within-run arrival order is not. Oracle: first-arrival set
    arithmetic over the two halves in DuckDB."""
    key = (sf_dir, "stream_dedup")
    res = _STREAM_DEDUP.get(key)
    if res is None:
        import shutil
        import tempfile

        from pyspark.sql import functions as F

        from .pipeline.dedup import norm_text_col
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        base = tempfile.mkdtemp(prefix="gate_sdedup_")
        try:
            src, out, ckpt = f"{base}/src", f"{base}/out", f"{base}/ck"
            docs.where("doc_id % 2 = 0").write.mode("overwrite") \
                .parquet(src)
            schema = docs.schema

            def run(tag):
                stream = (spark.readStream.schema(schema).parquet(src)
                          .select(F.md5(norm_text_col(F.col("text")))
                                  .alias("text_hash"))
                          .dropDuplicates(["text_hash"]))

                def sink(bdf, _bid):
                    bdf.withColumn("run",
                                   F.lit(tag).cast("bigint")) \
                        .write.mode("append").parquet(out)

                (stream.writeStream.foreachBatch(sink)
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start()
                 .awaitTermination(300))

            run(0)
            # batch 1 = the odd half PLUS a replay of a quarter of
            # batch 0's documents — the replayed hashes are already in
            # the dedup state, so a single run=1 row for any of them
            # means the state store did not survive the restart (and
            # the oracle compare below would catch it)
            docs.where("doc_id % 2 = 1") \
                .unionAll(docs.where("doc_id % 4 = 0")) \
                .write.mode("append").parquet(src)
            run(1)
            # localCheckpoint WRITES the blocks (cache is evictable —
            # a later recompute would re-read the deleted temp parquet,
            # ADVICE r5)
            res = spark.read.parquet(out).localCheckpoint(eager=True)
            _STREAM_DEDUP[key] = res
        finally:
            shutil.rmtree(base, ignore_errors=True)
    return res.orderBy("text_hash")


def oracle_stream_dedup() -> str:
    from .pipeline.dedup import NORM_SQL
    return f"""
WITH n AS (SELECT doc_id, md5({NORM_SQL}) AS h FROM documents),
b0 AS (SELECT DISTINCT h FROM n WHERE doc_id % 2 = 0),
b1 AS (SELECT DISTINCT h FROM n WHERE doc_id % 2 = 1
       AND h NOT IN (SELECT h FROM b0))
SELECT h AS text_hash, CAST(0 AS BIGINT) AS run FROM b0
UNION ALL
SELECT h AS text_hash, CAST(1 AS BIGINT) AS run FROM b1
ORDER BY text_hash
"""


_STREAM_WINDOW = {}
_STREAM_SLIDING = {}


def _watermark_window_gate(spark, sf_dir, cache, prefix, late_mod,
                           window_args):
    """Shared 3-restart watermark harness for the tumbling and sliding
    window gates: run 0 ingests the even half, run 1 the odd half
    (1/5 deliberately late, cutoff ``late_mod``), run 2 a far-future
    sentinel that flushes remaining state. One file per run -> one
    micro-batch per run, so the watermark only commits between runs."""
    key = (sf_dir, prefix)
    res = cache.get(key)
    if res is None:
        import shutil
        import tempfile

        from pyspark.sql import functions as F
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        ts0 = F.expr("((event_id div 2) * 41) % 2000")
        late = F.expr(f"((event_id div 2) * 37) % {late_mod}")
        ontime = F.expr("1500 + ((event_id div 2) * 37) % 560")
        ts_s = (F.when(F.expr("event_id % 2 = 0"), ts0)
                .when(F.expr("(event_id div 2) % 5 = 0"), late)
                .otherwise(ontime)).cast("bigint").alias("ts_s")
        rows = ev.select(ts_s, F.expr("event_id % 2").alias("p"))
        base = tempfile.mkdtemp(prefix=f"gate_{prefix}_")
        try:
            src, out, ckpt = f"{base}/src", f"{base}/out", f"{base}/ck"
            rows.where("p = 0").select("ts_s").coalesce(1) \
                .write.mode("overwrite").parquet(src)

            def run():
                stream = (
                    spark.readStream.schema("ts_s bigint").parquet(src)
                    .select(F.timestamp_seconds("ts_s").alias("ts"))
                    .withWatermark("ts", "600 seconds")
                    .groupBy(F.window("ts", *window_args)).count()
                    .select(F.col("window.start").cast("long")
                            .alias("win_start"),
                            F.col("count").cast("long").alias("cnt")))
                (stream.writeStream.outputMode("append").format("parquet")
                 .option("path", out).option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start()
                 .awaitTermination(300))

            run()
            rows.where("p = 1").select("ts_s").coalesce(1) \
                .write.mode("append").parquet(src)
            run()
            spark.createDataFrame([(100000,)], "ts_s bigint") \
                .coalesce(1).write.mode("append").parquet(src)
            run()
            # localCheckpoint, not cache: blocks are written, so the
            # deleted temp parquet is never re-read (ADVICE r5)
            res = (spark.read.parquet(out)
                   .where("win_start < 50000")
                   .localCheckpoint(eager=True))
            cache[key] = res
        finally:
            shutil.rmtree(base, ignore_errors=True)
    return res.orderBy("win_start")


def q_stream_window(spark, sf_dir):
    """Structured-Streaming watermarked tumbling-window aggregation with
    REAL late-data drops, run as three availableNow restarts of one
    checkpoint (watermark state persists in the commit log):

      run 0  on-time half (event_id even): designed ts in [0, 2000)
      run 1  odd half: 1/5 deliberately LATE (ts far below run 0's
             committed watermark -> their windows were finalized, rows
             dropped), 4/5 on-time (windows still open -> merged)
      run 2  a far-future sentinel whose watermark flushes all state

    Determinism: the watermark only commits BETWEEN runs, and the
    fixture keeps >= 60 s of margin between every window end and every
    watermark value (late window ends <= 1320 vs wm0 = max(part0)-600 =
    1399; on-time ends >= 1560 vs run-1 max watermark 1459), so
    batch-boundary and <=/< eviction semantics cannot flip a verdict —
    asserted by tests/test_streaming's fixture-margin check. The DuckDB
    oracle recomputes the watermark (MAX over the on-time half - delay)
    and the keep/drop verdict per row, bit-for-bit.

    -> (win_start epoch-seconds, cnt), sentinel window excluded."""
    return _watermark_window_gate(spark, sf_dir, _STREAM_WINDOW,
                                  "swin", 1300, ("60 seconds",))


def q_stream_sliding(spark, sf_dir):
    """SLIDING-window variant of q_stream_window (120 s windows,
    60 s slide): every row lands in TWO windows and the oracle models
    the (row, window) PAIRS. The late cutoff is tightened (ts % 1220)
    so BOTH windows of every late row end ≥ 60 s below run-0's
    watermark — the pair-drop and row-drop interpretations of Spark's
    late filter coincide on this fixture by construction, keeping the
    verdict batch-boundary-proof exactly like the tumbling gate.
    Registered as the `evt_stream_sliding` driver gate in round 6; the
    bit-compare also runs in tests/test_streaming.

    -> (win_start epoch-seconds, cnt), sentinel windows excluded."""
    return _watermark_window_gate(spark, sf_dir, _STREAM_SLIDING,
                                  "sslide", 1220,
                                  ("120 seconds", "60 seconds"))


def oracle_stream_sliding() -> str:
    return """
WITH base AS (SELECT event_id // 2 AS e2, event_id % 2 AS p FROM events),
r AS (SELECT CASE WHEN p = 0 THEN (e2 * 41) % 2000
            WHEN e2 % 5 = 0 THEN (e2 * 37) % 1220
            ELSE 1500 + (e2 * 37) % 560 END AS ts_s, p FROM base),
wm AS (SELECT MAX(ts_s) - 600 AS w0 FROM r WHERE p = 0),
pairs AS (
  SELECT (ts_s // 60) * 60 + off AS win_start, p
  FROM r, (VALUES (0), (-60)) o(off)
)
SELECT CAST(win_start AS BIGINT) AS win_start,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM pairs, wm
WHERE p = 0 OR win_start + 120 > w0
GROUP BY 1 ORDER BY 1
"""


def oracle_stream_window() -> str:
    return """
WITH base AS (SELECT event_id // 2 AS e2, event_id % 2 AS p FROM events),
r AS (SELECT CASE WHEN p = 0 THEN (e2 * 41) % 2000
            WHEN e2 % 5 = 0 THEN (e2 * 37) % 1300
            ELSE 1500 + (e2 * 37) % 560 END AS ts_s, p FROM base),
wm AS (SELECT MAX(ts_s) - 600 AS w0 FROM r WHERE p = 0)
SELECT CAST((ts_s // 60) * 60 AS BIGINT) AS win_start,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM r, wm
WHERE p = 0 OR (ts_s // 60) * 60 + 60 > w0
GROUP BY 1 ORDER BY 1
"""


_STREAM_DEDUP_WM = {}


def q_stream_dedup_wm(spark, sf_dir):
    """Watermark-BOUNDED streaming dedup (`dropDuplicatesWithinWatermark`
    — the scale-correct form of `doc_stream_dedup`, whose plain
    `dropDuplicates` state grows forever): per-key dedup state lives
    only until the watermark passes the stored event time + delay, so
    state size is bounded by the watermark horizon at ANY stream
    length. Two availableNow runs of one checkpoint prove all three
    contracts at once:

      run 0  OLD keys (ts in [10000, 10300)), RECENT keys (ts in
             [12500, 12700)), a same-batch duplicate-pair class, and
             a driver row pinning max ts = 13000 → committed
             watermark wm0 = 12400. Every distinct key emits once.
      run 1  - OLD keys replayed at on-time ts (> wm0 + 60): their
               state EXPIRED (old ts + 600 ≤ wm0 − 60), so they emit
               AGAIN — the bounded-state eviction proof (plain
               dropDuplicates would suppress them forever)
             - RECENT keys replayed: state still alive (ts + 600 ≥
               wm0 + 60) → correctly deduped across the restart
             - brand-new keys at LATE ts (≤ wm0 − 60) → dropped by
               the watermark filter, never emitted

    Every class sits ≥ 60 s from every eviction/late boundary under
    either <= or < semantics; the duplicate-pair keys are never
    replayed, so their (batch-order-dependent) stored timestamp can
    never matter. Oracle: DuckDB recomputes wm0 and replays the
    eviction rule per key.

    -> (k, run) — a key appears twice exactly when its state was
    evicted between its two arrivals."""
    from pyspark.sql import functions as F
    key = sf_dir
    res = _STREAM_DEDUP_WM.get(key)
    if res is None:
        import shutil
        import tempfile

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        i = F.expr("event_id div 2")
        p = F.expr("event_id % 2")
        c = i % 10
        # run-0 rows
        k0 = F.when(c == 7, i - (i % 20 - 7)).otherwise(i)  # pair 7/17
        ts0 = (F.when(c <= 3, F.lit(10000) + (i * 37) % 300)
               .when(c == 8, F.lit(13000))
               .when(c == 7, F.lit(10000) + (i * 37) % 300)
               .otherwise(F.lit(12500) + (i * 37) % 200))
        # run-1 rows
        k1 = F.when(c >= 7, F.lit(1000000) + i).otherwise(i)
        ts1 = (F.when(c <= 1, F.lit(12600) + (i * 37) % 200)
               .when(c <= 3, F.lit(12600) + (i * 37) % 200)
               .when(c <= 6, F.lit(12600) + (i * 37) % 100)
               .otherwise(F.lit(11000) + (i * 37) % 1000))
        keep1 = (c <= 1) | ((c >= 4) & (c <= 6)) | (c >= 7)
        r0 = ev.where(p == 0).select(k0.cast("bigint").alias("k"),
                                     ts0.cast("bigint").alias("ts_s"))
        r1 = (ev.where(p == 1).where(keep1)
              .select(k1.cast("bigint").alias("k"),
                      ts1.cast("bigint").alias("ts_s")))
        base = tempfile.mkdtemp(prefix="gate_sdwm_")
        try:
            src, out, ckpt = f"{base}/src", f"{base}/out", f"{base}/ck"
            r0.coalesce(1).write.mode("overwrite").parquet(src)

            def run(tag):
                stream = (
                    spark.readStream.schema("k bigint, ts_s bigint")
                    .parquet(src)
                    .select("k", F.timestamp_seconds("ts_s").alias("ts"))
                    .withWatermark("ts", "600 seconds")
                    .dropDuplicatesWithinWatermark(["k"])
                    .select("k"))

                def sink(bdf, _bid):
                    bdf.withColumn("run", F.lit(tag).cast("bigint")) \
                        .write.mode("append").parquet(out)

                (stream.writeStream.foreachBatch(sink)
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start()
                 .awaitTermination(300))

            run(0)
            r1.coalesce(1).write.mode("append").parquet(src)
            run(1)
            res = spark.read.parquet(out).localCheckpoint(eager=True)
            _STREAM_DEDUP_WM[key] = res
        finally:
            shutil.rmtree(base, ignore_errors=True)
    return res.orderBy("k", "run")


def oracle_stream_dedup_wm() -> str:
    return """
WITH base AS (SELECT event_id // 2 AS i, event_id % 2 AS p FROM base_ev),
r0 AS (SELECT CASE WHEN i % 10 = 7 THEN i - (i % 20 - 7) ELSE i END AS k,
         CASE WHEN i % 10 <= 3 OR i % 10 = 7
                THEN 10000 + (i * 37) % 300
              WHEN i % 10 = 8 THEN 13000
              ELSE 12500 + (i * 37) % 200 END AS ts_s
       FROM base WHERE p = 0),
r1 AS (SELECT CASE WHEN i % 10 >= 7 THEN 1000000 + i ELSE i END AS k,
         CASE WHEN i % 10 <= 3 THEN 12600 + (i * 37) % 200
              WHEN i % 10 <= 6 THEN 12600 + (i * 37) % 100
              ELSE 11000 + (i * 37) % 1000 END AS ts_s
       FROM base
       WHERE p = 1 AND (i % 10 <= 1 OR i % 10 >= 4)),
wm AS (SELECT MAX(ts_s) - 600 AS w0 FROM r0),
st AS (SELECT k, MIN(ts_s) AS ts0 FROM r0 GROUP BY k),
em1 AS (SELECT DISTINCT r1.k
        FROM r1 CROSS JOIN wm LEFT JOIN st ON r1.k = st.k
        WHERE r1.ts_s > wm.w0
          AND (st.k IS NULL OR st.ts0 + 600 < wm.w0))
SELECT CAST(k AS BIGINT) AS k, CAST(0 AS BIGINT) AS run
FROM (SELECT DISTINCT k FROM r0)
UNION ALL
SELECT CAST(k AS BIGINT) AS k, CAST(1 AS BIGINT) AS run FROM em1
ORDER BY k, run
""".replace("base_ev", "events")


_STREAM_SESSION = {}


def q_stream_session(spark, sf_dir):
    """Structured-Streaming SESSION windows (`F.session_window`, gap
    sessionization with stateful merge — VERDICT r6 task 4, the batch
    twin is `session_paths`): per-key sessions with a 120 s gap and a
    600 s watermark, run as three availableNow restarts of one
    checkpoint:

      run 0  even half: a sparse "closed block" (md5-hashed designed
             [10000, 34000) over 40 keys — per-key spacings
             straddle the 120 s gap, so each key splits into MANY
             sessions) plus an "open tail" (i%5==4, ts in
             [34000, 34200)) whose sessions stay buffered in state
      run 1  odd half: 1/5 deliberately LATE (ts in [10000, 11200),
             ts AND ts+gap ≥ 60 s below run-0's watermark — dropped
             under either the input-filter or state reading), 4/5
             on-time in [34100, 34400) — these MUST merge into the
             run-0 buffered tail sessions, proving session state
             survived the restart; every EMITTED run-0 session's last
             event sits ≥ 621 s (> gap + 60) below the on-time class,
             so no emitted-and-final session could ever need them
      run 2  a far-future sentinel flushing all state

    Determinism: all designed ts are shifted +10000 (a ts of exactly 0
    collides with the INITIAL watermark) and every class sits ≥ 60 s
    from every watermark threshold. Spark's merge boundary is
    END-INCLUSIVE: two events exactly gap apart DO merge (pinned
    empirically on this fixture — the md5-spread block contains
    exact-120 pairs, and Spark emitted 7 fewer sessions than a
    strict-overlap oracle; `diff > gap → new session` matches
    bit-for-bit). The DuckDB oracle recomputes the watermark, the
    keep/drop verdict, and the full gap sessionization of the
    surviving rows bit-for-bit.

    -> (k, sess_start, sess_end epoch-seconds, cnt), sentinel
    excluded."""
    from pyspark.sql import functions as F
    key = sf_dir
    res = _STREAM_SESSION.get(key)
    if res is None:
        import shutil
        import tempfile

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        i = F.expr("event_id div 2")
        p = F.expr("event_id % 2")
        ts_s = (F.when((p == 0) & (i % 5 == 4),
                       F.lit(34000) + (i * 37) % 200)
                .when(p == 0, F.lit(10000) + F.expr(
                    "cast(conv(substring(md5(cast(event_id div 2 as "
                    "string)), 1, 15), 16, 10) as bigint)") % 24000)
                .when(i % 5 == 0, F.lit(10000) + (i * 37) % 1200)
                .otherwise(F.lit(34100) + (i * 37) % 300)
                ).cast("bigint").alias("ts_s")
        rows = ev.select((i % 40).cast("bigint").alias("k"), ts_s,
                         p.alias("p"))
        base = tempfile.mkdtemp(prefix="gate_ssess_")
        try:
            src, out, ckpt = f"{base}/src", f"{base}/out", f"{base}/ck"
            rows.where("p = 0").select("k", "ts_s").coalesce(1) \
                .write.mode("overwrite").parquet(src)

            def run():
                stream = (
                    spark.readStream.schema("k bigint, ts_s bigint")
                    .parquet(src)
                    .select("k", F.timestamp_seconds("ts_s").alias("ts"))
                    .withWatermark("ts", "600 seconds")
                    .groupBy("k", F.session_window("ts", "120 seconds"))
                    .count()
                    .select("k",
                            F.col("session_window.start").cast("long")
                            .alias("sess_start"),
                            F.col("session_window.end").cast("long")
                            .alias("sess_end"),
                            F.col("count").cast("long").alias("cnt")))
                (stream.writeStream.outputMode("append").format("parquet")
                 .option("path", out).option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start()
                 .awaitTermination(300))

            run()
            rows.where("p = 1").select("k", "ts_s").coalesce(1) \
                .write.mode("append").parquet(src)
            run()
            spark.createDataFrame([(0, 100000)], "k bigint, ts_s bigint") \
                .coalesce(1).write.mode("append").parquet(src)
            run()
            res = (spark.read.parquet(out)
                   .where("sess_start < 50000")
                   .localCheckpoint(eager=True))
            _STREAM_SESSION[key] = res
        finally:
            shutil.rmtree(base, ignore_errors=True)
    return res.orderBy("k", "sess_start")


def oracle_stream_session() -> str:
    return """
WITH base AS (SELECT event_id // 2 AS i, event_id % 2 AS p FROM events),
r AS (SELECT i % 40 AS k,
        CASE WHEN p = 0 AND i % 5 = 4 THEN 34000 + (i * 37) % 200
             WHEN p = 0 THEN 10000 +
               (('0x' || substr(md5(CAST(i AS VARCHAR)), 1, 15))::BIGINT
                % 24000)
             WHEN i % 5 = 0 THEN 10000 + (i * 37) % 1200
             ELSE 34100 + (i * 37) % 300 END AS ts_s, p FROM base),
wm AS (SELECT MAX(ts_s) - 600 AS w0 FROM r WHERE p = 0),
kept AS (SELECT k, ts_s FROM r, wm WHERE p = 0 OR ts_s > w0),
marked AS (SELECT k, ts_s,
             CASE WHEN ts_s - LAG(ts_s) OVER
                    (PARTITION BY k ORDER BY ts_s) > 120
                  OR LAG(ts_s) OVER (PARTITION BY k ORDER BY ts_s)
                     IS NULL
                  THEN 1 ELSE 0 END AS new_s
           FROM kept),
sess AS (SELECT k, ts_s,
           SUM(new_s) OVER (PARTITION BY k ORDER BY ts_s
                            ROWS UNBOUNDED PRECEDING) AS sid
         FROM marked)
SELECT CAST(k AS BIGINT) AS k,
       CAST(MIN(ts_s) AS BIGINT) AS sess_start,
       CAST(MAX(ts_s) + 120 AS BIGINT) AS sess_end,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM sess GROUP BY k, sid ORDER BY k, sess_start
"""


_STREAM_JOIN = {}


def q_stream_join(spark, sf_dir):
    """Watermarked stream-stream LEFT OUTER interval join (the last
    missing Structured Streaming primitive): impressions (left) joined
    to clicks (right) on key equality + ``rt BETWEEN lt AND lt+120s``,
    run as three availableNow restarts of one checkpoint.

      run 0  ALL left rows + the even-key right rows (same-batch
             matches; unmatched lefts stay buffered in join state)
      run 1  the odd-key right rows: 1/5 deliberately LATE (their ts
             AND their partners' eviction bound sit ≥ 500 s below the
             committed watermark — the engine's pre-join late filter
             drops them, so their partners stay unmatched), 4/5
             on-time with partners designed ≥ 120 s above the
             watermark retention bound — these MUST match run-0
             buffered state, proving join state survived the restart
      run 2  a far-future sentinel on BOTH sides (global watermark =
             min over sides) flushing all state, so every never-
             matched left emits its outer NULL row

    Determinism: the watermark only commits between runs and every
    designed class sits ≥ 60 s (mostly ≥ 120 s) away from every
    eviction/late threshold under either the input-filter or the
    state-eviction reading of late handling, so batch boundaries
    cannot flip a verdict. The DuckDB oracle recomputes each pair's
    class and match arithmetic bit-for-bit.

    -> (k, lts_s, rts_s NULL if unmatched, matched)."""
    return _stream_join_harness(spark, sf_dir, "leftOuter") \
        .orderBy("k")


def _stream_join_harness(spark, sf_dir, how):
    from pyspark.sql import functions as F
    key = (sf_dir, how)
    res = _STREAM_JOIN.get(key)
    if res is None:
        import shutil
        import tempfile

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        pairs = ev.select(F.expr("event_id div 2").alias("i")).distinct()
        is_r0 = F.expr("i % 2 = 0")
        is_late = F.expr("i % 2 = 1 AND (i div 2) % 5 = 0")
        # +10000 base: Spark's INITIAL watermark is 0, and a designed
        # ts of exactly 0 sits on that boundary (observed: dropped in
        # the very first batch) — every class keeps ≥ 60 s of margin
        # from every threshold, including the zero point
        lts = (F.lit(10000) + F.when(is_r0, (F.col("i") * 41) % 2000)
               .when(is_late, (F.col("i") * 41) % 600)
               .otherwise(1520 + (F.col("i") * 41) % 480)).cast("bigint")
        delta = (F.when(is_late, (F.col("i") * 13) % 120)
                 .otherwise((F.col("i") * 13) % 180)).cast("bigint")
        rows = pairs.select("i", lts.alias("lts"),
                            (lts + delta).alias("rts"),
                            is_r0.alias("r0"))
        base = tempfile.mkdtemp(prefix=f"gate_ssjoin_{how}_")
        try:
            lsrc, rsrc = f"{base}/l", f"{base}/r"
            out, ckpt = f"{base}/out", f"{base}/ck"
            rows.select(F.col("i").alias("k"),
                        F.col("lts").alias("lts_s")).coalesce(1) \
                .write.mode("overwrite").parquet(lsrc)
            rows.where("r0").select(F.col("i").alias("k"),
                                    F.col("rts").alias("rts_s")) \
                .coalesce(1).write.mode("overwrite").parquet(rsrc)

            def run():
                ls = (spark.readStream
                      .schema("k bigint, lts_s bigint").parquet(lsrc)
                      .select("k", "lts_s",
                              F.timestamp_seconds("lts_s").alias("lt"))
                      .withWatermark("lt", "600 seconds"))
                rs = (spark.readStream
                      .schema("k bigint, rts_s bigint").parquet(rsrc)
                      .select(F.col("k").alias("rk"), "rts_s",
                              F.timestamp_seconds("rts_s").alias("rt"))
                      .withWatermark("rt", "600 seconds"))
                j = ls.join(rs, F.expr(
                    "k = rk AND rt BETWEEN lt "
                    "AND lt + INTERVAL 120 seconds"), how)
                if how == "leftSemi":
                    # semi emits only the left side
                    j = j.select("k", "lts_s")
                else:
                    j = j.select(F.coalesce("k", "rk").alias("k"),
                                 "lts_s", "rts_s")
                (j.writeStream.outputMode("append").format("parquet")
                 .option("path", out).option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start()
                 .awaitTermination(300))

            run()
            rows.where("NOT r0").select(F.col("i").alias("k"),
                                        F.col("rts").alias("rts_s")) \
                .coalesce(1).write.mode("append").parquet(rsrc)
            run()
            spark.createDataFrame([(-1, 200000)],
                                  "k bigint, lts_s bigint") \
                .coalesce(1).write.mode("append").parquet(lsrc)
            spark.createDataFrame([(-1, 200000)],
                                  "k bigint, rts_s bigint") \
                .coalesce(1).write.mode("append").parquet(rsrc)
            run()
            res = spark.read.parquet(out).where("k >= 0")
            if how == "leftSemi":
                res = res.select("k", "lts_s") \
                    .localCheckpoint(eager=True)
            else:
                res = res.select(
                    "k", "lts_s", "rts_s",
                    (F.col("rts_s").isNotNull()
                     & F.col("lts_s").isNotNull()).cast("int")
                    .alias("matched")).localCheckpoint(eager=True)
            _STREAM_JOIN[key] = res
        finally:
            shutil.rmtree(base, ignore_errors=True)
    return res


_STREAM_STATIC = {}


def q_stream_static_join(spark, sf_dir):
    """Stream-STATIC broadcast join — the remaining Structured
    Streaming join flavor next to the stream-stream family: a
    watermark-free, state-free enrichment where each micro-batch
    joins against the static side's CURRENT content. The contract
    under test is per-batch re-read: the static dimension is
    OVERWRITTEN between two availableNow restarts of one checkpoint
    (v0: only segments 0-7 exist, so inner join DROPS half the run-0
    events; v1: all 16 segments, names rewritten), and each run's
    output must reflect the dim version live at processing time —
    the slowly-changing-dimension behavior a 100 TB enrichment
    pipeline relies on (no join state, no watermark, dim broadcast
    per batch; plan pinned in tests/test_streaming.py).

    Determinism: run membership is event_id % 2, seg_id is
    user_id % 16, names are pure functions of (seg_id, version) —
    the oracle replays both versions exactly.

    -> (event_id, seg_id, seg_name, run), ordered."""
    key = (sf_dir, "stream_static")
    res = _STREAM_STATIC.get(key)
    if res is None:
        import shutil
        import tempfile

        from pyspark.sql import functions as F

        ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
            .select("event_id", "user_id")
        base = tempfile.mkdtemp(prefix="gate_sstatic_")
        try:
            src, dim, out, ckpt = (f"{base}/src", f"{base}/dim",
                                   f"{base}/out", f"{base}/ck")

            def dim_rows(n_segs, ver):
                return spark.range(n_segs).select(
                    F.col("id").alias("seg_id"),
                    F.concat(F.lit("S"), F.col("id"),
                             F.lit(f"_v{ver}")).alias("seg_name"))

            def run(tag):
                s = (spark.readStream
                     .schema("event_id bigint, user_id bigint")
                     .parquet(src)
                     .withColumn("seg_id", F.expr("user_id % 16")))
                d = spark.read.parquet(dim)   # re-read EVERY batch
                j = s.join(F.broadcast(d), "seg_id") \
                     .select("event_id", "seg_id", "seg_name")

                def sink(bdf, _bid):
                    bdf.withColumn("run", F.lit(tag).cast("bigint")) \
                        .write.mode("append").parquet(out)

                (j.writeStream.foreachBatch(sink)
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start()
                 .awaitTermination(300))

            dim_rows(8, 0).write.mode("overwrite").parquet(dim)
            ev.where("event_id % 2 = 0").coalesce(1) \
                .write.mode("overwrite").parquet(src)
            run(0)
            # the dim CHANGES between restarts: run 1 must see v1
            dim_rows(16, 1).write.mode("overwrite").parquet(dim)
            ev.where("event_id % 2 = 1").coalesce(1) \
                .write.mode("append").parquet(src)
            run(1)
            res = spark.read.parquet(out).localCheckpoint(eager=True)
            _STREAM_STATIC[key] = res
        finally:
            shutil.rmtree(base, ignore_errors=True)
    return res.orderBy("event_id")


def oracle_stream_static_join() -> str:
    return """
SELECT event_id,
       user_id % 16 AS seg_id,
       'S' || CAST(user_id % 16 AS VARCHAR)
           || CASE WHEN event_id % 2 = 0 THEN '_v0' ELSE '_v1' END
           AS seg_name,
       event_id % 2 AS run
FROM events
WHERE event_id % 2 = 1 OR user_id % 16 < 8
ORDER BY event_id
"""


_STREAM_COMPLETE = {}


def q_stream_complete_topk(spark, sf_dir):
    """COMPLETE-output-mode streaming aggregation with a global
    ORDER BY + LIMIT — the one output mode where streaming sorting is
    legal at all (append/update reject it: rows could still move), and
    the mode the other streaming gates deliberately avoid. Per-user
    event counts stream in across TWO availableNow restarts of one
    checkpoint; every trigger re-emits the FULL top-10 table (complete
    mode = state snapshot, not delta), the foreachBatch sink
    OVERWRITES per emission, and the surviving table after the final
    run must equal the batch top-10 over all input — which is exactly
    the aggregation-state-survives-restart proof: run 1 only appends
    the odd half, so its top-10 is correct only if run 0's counts are
    still in the state store. Ties broken by user_id in BOTH the
    window and the limit (a global top-k over ties is otherwise
    nondeterministic).

    -> (pos, user_id, n_events), ordered."""
    key = (sf_dir, "stream_complete")
    res = _STREAM_COMPLETE.get(key)
    if res is None:
        import shutil
        import tempfile

        from pyspark.sql import functions as F

        ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
            .select("event_id", "user_id")
        base = tempfile.mkdtemp(prefix="gate_scomplete_")
        try:
            src, out, ckpt = f"{base}/src", f"{base}/out", f"{base}/ck"

            def run():
                agg = (spark.readStream
                       .schema("event_id bigint, user_id bigint")
                       .parquet(src)
                       .groupBy("user_id")
                       .agg(F.count("*").cast("bigint")
                            .alias("n_events"))
                       .orderBy(F.desc("n_events"), F.asc("user_id"))
                       .limit(10))

                def sink(bdf, _bid):
                    # complete mode re-emits the whole table: the sink
                    # REPLACES, so the final emission wins
                    bdf.write.mode("overwrite").parquet(out)

                (agg.writeStream.outputMode("complete")
                 .foreachBatch(sink)
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start()
                 .awaitTermination(300))

            ev.where("event_id % 2 = 0").coalesce(1) \
                .write.mode("overwrite").parquet(src)
            run()
            ev.where("event_id % 2 = 1").coalesce(1) \
                .write.mode("append").parquet(src)
            run()
            from pyspark.sql.window import Window
            w = Window.orderBy(F.desc("n_events"), F.asc("user_id"))
            res = (spark.read.parquet(out)
                   .withColumn("pos", F.row_number().over(w)
                               .cast("bigint"))
                   .select("pos", "user_id", "n_events")
                   .localCheckpoint(eager=True))
            _STREAM_COMPLETE[key] = res
        finally:
            shutil.rmtree(base, ignore_errors=True)
    return res.orderBy("pos")


def oracle_stream_complete_topk() -> str:
    return """
SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_events DESC, user_id)
            AS BIGINT) AS pos,
       CAST(user_id AS BIGINT) AS user_id,
       CAST(n_events AS BIGINT) AS n_events
FROM (SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY 1)
ORDER BY n_events DESC, user_id LIMIT 10
"""


_STREAM_UPDATE = {}


def q_stream_update_counts(spark, sf_dir):
    """UPDATE-output-mode streaming aggregation — completing the
    output-mode triple (append: watermark-finalized windows r5-r7;
    complete: full-table re-emission `evt_stream_complete_topk`).
    Update mode emits per trigger ONLY the groups whose state CHANGED
    — the contract that makes a billion-group running aggregate
    emittable at all (complete re-emits all groups, append can never
    emit an updatable group). Fixture: per-user event counts over two
    availableNow restarts; run 1 delivers ONLY the odd-numbered events
    of every third user (user_id % 3 = 0), run 0 everything else — so
    two thirds of users are untouched in run 1 and MUST NOT re-emit
    (the pin that makes this gate non-vacuous; the sink tags emissions
    with the run). The compare pins BOTH the final counts (state
    survived the restart: run-1 counts include run-0 events) AND the
    per-user emission pattern. n_emissions counts distinct runs a
    user's group emitted in.

    -> (user_id, n_events, n_emissions, in_run0, in_run1), ordered."""
    key = (sf_dir, "stream_update")
    res = _STREAM_UPDATE.get(key)
    if res is None:
        import shutil
        import tempfile

        from pyspark.sql import functions as F

        ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
            .select("event_id", "user_id")
        base = tempfile.mkdtemp(prefix="gate_supdate_")
        try:
            src, out, ckpt = f"{base}/src", f"{base}/out", f"{base}/ck"

            def run(tag):
                agg = (spark.readStream
                       .schema("event_id bigint, user_id bigint")
                       .parquet(src)
                       .groupBy("user_id")
                       .agg(F.count("*").cast("bigint")
                            .alias("n_events")))

                def sink(bdf, _bid):
                    bdf.withColumn("run", F.lit(tag).cast("bigint")) \
                        .write.mode("append").parquet(out)

                (agg.writeStream.outputMode("update")
                 .foreachBatch(sink)
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start()
                 .awaitTermination(300))

            upd = "user_id % 3 = 0 AND event_id % 2 = 1"
            ev.where(f"NOT ({upd})").coalesce(1) \
                .write.mode("overwrite").parquet(src)
            run(0)
            ev.where(upd).coalesce(1) \
                .write.mode("append").parquet(src)
            run(1)
            em = spark.read.parquet(out)
            # the LAST emission per user carries the final count
            w_last = (F.max(F.struct("run", "n_events"))
                      .alias("_last"))
            res = (em.groupBy("user_id")
                   .agg(w_last,
                        F.countDistinct("run").cast("bigint")
                        .alias("n_emissions"),
                        F.max((F.col("run") == 0).cast("int"))
                        .cast("bigint").alias("in_run0"),
                        F.max((F.col("run") == 1).cast("int"))
                        .cast("bigint").alias("in_run1"))
                   .select(F.col("user_id").cast("bigint"),
                           F.col("_last.n_events").alias("n_events"),
                           "n_emissions", "in_run0", "in_run1")
                   .localCheckpoint(eager=True))
            _STREAM_UPDATE[key] = res
        finally:
            shutil.rmtree(base, ignore_errors=True)
    return res.orderBy("user_id")


def oracle_stream_update_counts() -> str:
    return """
WITH e AS (
  SELECT user_id,
         CASE WHEN user_id % 3 = 0 AND event_id % 2 = 1
              THEN 1 ELSE 0 END AS run
  FROM events
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT run) AS BIGINT) AS n_emissions,
       CAST(MAX(CASE WHEN run = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS in_run0,
       CAST(MAX(CASE WHEN run = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS in_run1
FROM e GROUP BY user_id ORDER BY user_id
"""


def q_stream_join_semi(spark, sf_dir):
    """LEFT SEMI stream-stream join on the identical fixture —
    completes the join family (inner r6, left/full outer r6): emit
    each left row once iff an on-time right matched it inside the
    interval; no right columns, and join state still expires on the
    watermark. Late rights were input-dropped, so their partners never
    emit. -> (k, lts_s), ordered."""
    return _stream_join_harness(spark, sf_dir, "leftSemi") \
        .orderBy("k")


def oracle_stream_join_semi() -> str:
    return """
WITH u AS (SELECT DISTINCT event_id // 2 AS i FROM events),
c AS (SELECT i, (i % 2 = 1 AND (i // 2) % 5 = 0) AS late,
             (i % 2 = 0) AS r0 FROM u),
t AS (SELECT i, late,
        10000 + CASE WHEN r0 THEN (i * 41) % 2000
             WHEN late THEN (i * 41) % 600
             ELSE 1520 + (i * 41) % 480 END AS lts,
        CASE WHEN late THEN (i * 13) % 120
             ELSE (i * 13) % 180 END AS delta
      FROM t0)
SELECT CAST(i AS BIGINT) AS k, CAST(lts AS BIGINT) AS lts_s
FROM t WHERE NOT late AND delta <= 120
ORDER BY k
""".replace("t0", "c")


def q_stream_join_outer(spark, sf_dir):
    """FULL OUTER variant of evt_stream_join on the identical fixture:
    both emission sides at once — unmatched lefts flush as
    (k, lts, NULL) on state expiry, ADMITTED-but-unmatched rights
    (on-time, delta > 120 s) as (k, NULL, rts); late rights were
    dropped at input, so their pairs surface ONLY as the left-null
    row. -> (k, lts_s, rts_s, matched), ordered by (k, lts_s)."""
    return _stream_join_harness(spark, sf_dir, "fullOuter") \
        .orderBy("k", "lts_s")


def oracle_stream_join_outer() -> str:
    return """
WITH u AS (SELECT DISTINCT event_id // 2 AS i FROM events),
c AS (SELECT i, (i % 2 = 1 AND (i // 2) % 5 = 0) AS late,
             (i % 2 = 0) AS r0 FROM u),
t AS (SELECT i, late,
        10000 + CASE WHEN r0 THEN (i * 41) % 2000
             WHEN late THEN (i * 41) % 600
             ELSE 1520 + (i * 41) % 480 END AS lts,
        CASE WHEN late THEN (i * 13) % 120
             ELSE (i * 13) % 180 END AS delta
      FROM c)
SELECT * FROM (
  SELECT CAST(i AS BIGINT) AS k, CAST(lts AS BIGINT) AS lts_s,
         CAST(CASE WHEN NOT late AND delta <= 120
              THEN lts + delta END AS BIGINT) AS rts_s,
         CAST(CASE WHEN NOT late AND delta <= 120
              THEN 1 ELSE 0 END AS INT) AS matched
  FROM t
  UNION ALL
  SELECT CAST(i AS BIGINT) AS k, CAST(NULL AS BIGINT) AS lts_s,
         CAST(lts + delta AS BIGINT) AS rts_s, CAST(0 AS INT) AS matched
  FROM t WHERE NOT late AND delta > 120
)
ORDER BY k, COALESCE(lts_s, -1)
"""


_STREAM_JOIN_UNEQ = {}


def q_stream_join_uneq(spark, sf_dir):
    """INNER stream-stream interval join with UNEQUAL watermark delays
    (left 600 s, right 30 s) — the semantics the equal-delay family
    cannot exercise: Spark's global watermark is the MIN over sides,
    so the short-delay side does NOT drop its own late data while the
    long-delay side holds the global watermark back.

    A CLOCK row (k = -2, filtered from output) pins the RIGHT side's
    run-0 maximum event time EXACTLY (11400 — every right data row is
    <= 11358), so the right's local watermark is 11370 precisely, and
    bounds the LEFT maximum into [11200 (the clock), 11259 (the cls-1
    design cap)] — so the committed GLOBAL watermark after run 0 is
    min(max_l - 600, 11370) ∈ [10600, 10659], a known 59 s band every
    class clears by >= 60 s on the relevant side. Run-1 right rows
    split into:

      cls 1  rts in [10780, 11259]: BELOW the right's own local
             watermark (11370 exactly, margin >= 111 s) but >= 121 s
             ABOVE the global band's top — MUST be accepted and match
             run-0 buffered left state (min-semantics + state
             survival across the restart)
      cls 0  rts in [10000, 10479]: >= 121 s below the global band's
             bottom — MUST be dropped by the pre-join late filter
      cls 2  on-time but delta > 120 s — accepted, never matches

    Run 2 appends a far-future sentinel on both sides: state flushes,
    and the dropped lates must NOT resurface. The DuckDB oracle
    replays the class arithmetic bit-for-bit.

    -> (k, lts_s, rts_s) for matched pairs, ordered."""
    from pyspark.sql import functions as F
    key = (sf_dir, "uneq")
    res = _STREAM_JOIN_UNEQ.get(key)
    if res is None:
        import shutil
        import tempfile

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        pairs = ev.select(F.expr("event_id div 2").alias("i")).distinct()
        r0 = F.expr("i % 2 = 0")
        cls = F.expr("(i div 2) % 3")
        delta = (F.col("i") * 13 % 120).cast("bigint")
        rts1 = (F.lit(10780) + F.col("i") * 41 % 480).cast("bigint")
        lts = F.when(r0, F.lit(10000) + F.col("i") * 41 % 1200) \
            .when(cls == 0, F.lit(10000) + F.col("i") * 41 % 480) \
            .when(cls == 1, rts1 - delta) \
            .otherwise(F.lit(10700) + F.col("i") * 41 % 480) \
            .cast("bigint")
        rts = F.when(r0, lts + delta) \
            .when(cls == 0, F.lit(10000) + F.col("i") * 41 % 480) \
            .when(cls == 1, rts1) \
            .otherwise(lts + 121 + F.col("i") * 13 % 59).cast("bigint")
        rows = pairs.select("i", lts.alias("lts"), rts.alias("rts"),
                            r0.alias("r0"))
        base = tempfile.mkdtemp(prefix="gate_ssjoin_uneq_")
        try:
            lsrc, rsrc = f"{base}/l", f"{base}/r"
            out, ckpt = f"{base}/out", f"{base}/ck"
            rows.select(F.col("i").alias("k"), F.col("lts").alias("lts_s")) \
                .union(spark.sql("SELECT -2L, 11200L")) \
                .coalesce(1).write.mode("overwrite").parquet(lsrc)
            rows.where("r0").select(F.col("i").alias("k"),
                                    F.col("rts").alias("rts_s")) \
                .union(spark.sql("SELECT -2L, 11400L")) \
                .coalesce(1).write.mode("overwrite").parquet(rsrc)

            def run():
                ls = (spark.readStream
                      .schema("k bigint, lts_s bigint").parquet(lsrc)
                      .select("k", "lts_s",
                              F.timestamp_seconds("lts_s").alias("lt"))
                      .withWatermark("lt", "600 seconds"))
                rs = (spark.readStream
                      .schema("k bigint, rts_s bigint").parquet(rsrc)
                      .select(F.col("k").alias("rk"), "rts_s",
                              F.timestamp_seconds("rts_s").alias("rt"))
                      .withWatermark("rt", "30 seconds"))
                j = ls.join(rs, F.expr(
                    "k = rk AND rt BETWEEN lt "
                    "AND lt + INTERVAL 120 seconds"), "inner") \
                    .select("k", "lts_s", "rts_s")
                (j.writeStream.outputMode("append").format("parquet")
                 .option("path", out).option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start()
                 .awaitTermination(300))

            run()
            rows.where("NOT r0").select(F.col("i").alias("k"),
                                        F.col("rts").alias("rts_s")) \
                .coalesce(1).write.mode("append").parquet(rsrc)
            run()
            spark.createDataFrame([(-1, 200000)],
                                  "k bigint, lts_s bigint") \
                .coalesce(1).write.mode("append").parquet(lsrc)
            spark.createDataFrame([(-1, 200000)],
                                  "k bigint, rts_s bigint") \
                .coalesce(1).write.mode("append").parquet(rsrc)
            run()
            res = spark.read.parquet(out).where("k >= 0") \
                .localCheckpoint(eager=True)
            _STREAM_JOIN_UNEQ[key] = res
        finally:
            shutil.rmtree(base, ignore_errors=True)
    return res.orderBy("k")


def oracle_stream_join_uneq() -> str:
    return f"""
WITH u AS (SELECT DISTINCT event_id // 2 AS i FROM events),
c AS (SELECT i, (i % 2 = 0) AS r0, (i // 2) % 3 AS cls,
             (i * 13) % 120 AS delta FROM u),
t AS (SELECT i, r0, cls, delta,
        CASE WHEN cls = 1 THEN 10780 + (i * 41) % 480 END AS rts1
      FROM c)
SELECT CAST(i AS BIGINT) AS k,
       CAST(CASE WHEN r0 THEN 10000 + (i * 41) % 1200
                 ELSE rts1 - delta END AS BIGINT) AS lts_s,
       CAST(CASE WHEN r0 THEN 10000 + (i * 41) % 1200 + delta
                 ELSE rts1 END AS BIGINT) AS rts_s
FROM t WHERE r0 OR cls = 1
ORDER BY k
"""


def oracle_stream_join() -> str:
    return """
WITH u AS (SELECT DISTINCT event_id // 2 AS i FROM events),
c AS (SELECT i, (i % 2 = 1 AND (i // 2) % 5 = 0) AS late,
             (i % 2 = 0) AS r0 FROM u),
t AS (SELECT i, late,
        10000 + CASE WHEN r0 THEN (i * 41) % 2000
             WHEN late THEN (i * 41) % 600
             ELSE 1520 + (i * 41) % 480 END AS lts,
        CASE WHEN late THEN (i * 13) % 120
             ELSE (i * 13) % 180 END AS delta
      FROM c)
SELECT CAST(i AS BIGINT) AS k, CAST(lts AS BIGINT) AS lts_s,
       CAST(CASE WHEN NOT late AND delta <= 120
            THEN lts + delta END AS BIGINT) AS rts_s,
       CAST(CASE WHEN NOT late AND delta <= 120
            THEN 1 ELSE 0 END AS INT) AS matched
FROM t ORDER BY k
"""


def q_session_paths(spark, sf_dir):
    """Top navigation paths over the events clickstream (r6 gate,
    promoted after the single-task global-sort top-k was replaced by
    TakeOrderedAndProject — VERDICT r5 #1)."""
    return events.session_paths(events._events(spark, sf_dir)) \
        .orderBy("rank")


def q_unpivot(spark, sf_dir):
    return relational.orders_status_unpivot(spark, sf_dir) \
        .orderBy("nation", "status")


def q_containment_pairs(spark, sf_dir):
    return dedup.containment_pairs(_docs(spark, sf_dir)) \
        .orderBy("doc_a", "doc_b")


def q_doc_pagerank(spark, sf_dir):
    return dedup.doc_pagerank(_docs(spark, sf_dir)).orderBy("doc_id")


def q_part_cooccurrence(spark, sf_dir):
    return relational.part_cooccurrence(spark, sf_dir) \
        .orderBy("part_a", "rank")


def q_upsert_corpus(spark, sf_dir):
    """MERGE/SCD-1 upsert: every doc_id % 4 == 1 row arrives rewritten
    ('v2 ' prefix) in the update shard; the result must carry every
    other row over untouched, with provenance."""
    from pyspark.sql import functions as F
    docs = _docs(spark, sf_dir)
    updates = docs.where("doc_id % 4 = 1") \
        .withColumn("text", F.concat(F.lit("v2 "), F.col("text")))
    return dedup.upsert_corpus(docs, updates).orderBy("doc_id")


SCD2_PREDS = ["doc_id % 4 = 1", "doc_id % 8 = 5"]
SCD2_PREFIXES = ["v2 ", "v3 "]


def _scd2_versioned(spark, sf_dir):
    """Two chained update shards: version 1 rewrites doc_id%4==1;
    version 2 rewrites doc_id%8==5 — a strict SUBSET of the v1 docs,
    so some documents carry a 3-version chain (0 -> 1 -> 2) and the
    interval-closing LEAD is exercised beyond one hop."""
    from pyspark.sql import functions as F
    docs = _docs(spark, sf_dir)
    shards = [
        (i + 1, docs.where(pred).withColumn(
            "text", F.concat(F.lit(pre), F.col("text"))))
        for i, (pred, pre) in enumerate(zip(SCD2_PREDS, SCD2_PREFIXES))]
    return dedup.scd2_upsert(docs, shards)


def q_scd2_versions(spark, sf_dir):
    return _scd2_versioned(spark, sf_dir).orderBy("doc_id", "valid_from")


def q_scd2_asof(spark, sf_dir):
    """Time-travel read at version 1: v1 rewrites live, v2 rewrites
    not yet visible, everything else the base row."""
    return dedup.scd2_asof(_scd2_versioned(spark, sf_dir), 1) \
        .orderBy("doc_id")


def q_ivfpq_res_topk(spark, sf_dir):
    """Residual-quantized IVF-PQ at the same PRUNED config (r7): PQ
    codes over x − centroid(list) with a per-(query, list) ADC; the
    oracle replays the whole residual path bit-for-bit."""
    return similarity.ivfpq_residual_topk(
        _emb(spark, sf_dir), EMB_QUERY_IDS, 5).orderBy("qid", "rank")


def q_ivfpq_topk(spark, sf_dir):
    """IVF-PQ composed ANN at its PRUNED config (nprobe=2 of 8 lists,
    refine=4) — the oracle replays coarse assign + encode + ADC +
    exact re-rank, so the pruning itself is bit-verified, not just the
    provably-exact full-probe configuration."""
    return similarity.ivfpq_topk(_emb(spark, sf_dir), EMB_QUERY_IDS,
                                 5).orderBy("qid", "rank")


def q_curation_to_pack(spark, sf_dir):
    """END-TO-END chain from raw corpus to training-sequence placement,
    as ONE gated query: exact-dedup (keep min doc_id per content hash)
    -> deterministic 50% hash sample (seed 17) -> train split of an
    80/20 assignment (seed 23 — a DIFFERENT seed: reusing the sample's
    key would correlate the brackets and make every sampled row
    'train') -> tokenize -> pack into 64-token sequences per (lang x 2
    shards). The oracle recomputes the whole chain as one DuckDB query."""
    from pyspark.sql import functions as F

    from .pipeline.dedup import norm_text_col
    docs = _docs(spark, sf_dir)
    keep = dedup.exact_dedup(docs).select(
        F.col("keep_id").alias("doc_id"))
    kept = docs.join(keep, "doc_id")
    sampled = sampling.hash_sample(kept, 0.5, seed=17)
    train = sampling.assign_splits(sampled, {"train": 0.8, "val": 0.2},
                                   seed=23).where("split = 'train'")
    with_n = train.withColumn(
        "n_tokens",
        F.size(F.split(norm_text_col(F.col("text")), " ")).cast("bigint"))
    return packing.pack_sequences(
        with_n.select("doc_id", "lang", "n_tokens"), 64, "n_tokens",
        ["lang"], shards=2).orderBy("doc_id")


def oracle_curation_to_pack() -> str:
    from .pipeline.dedup import NORM_SQL
    from .pipeline.sampling import HASH_BITS, _key_sql
    cut_sample = int(0.5 * (1 << HASH_BITS))
    cut_train = int(0.8 * (1 << HASH_BITS))
    k17 = _key_sql("doc_id", 17)
    k23 = _key_sql("doc_id", 23)
    toks = (f"CAST(len(string_split({NORM_SQL}, ' ')) AS BIGINT)")
    src = f"""(
      WITH keepers AS (
        SELECT MIN(doc_id) AS doc_id
        FROM (SELECT doc_id, {NORM_SQL} AS norm FROM documents)
        GROUP BY md5(norm)
      )
      SELECT d.doc_id, d.lang, d.text FROM documents d
      JOIN keepers k USING (doc_id)
      WHERE {k17} < {cut_sample} AND {k23} < {cut_train}
    )"""
    from .pipeline.packing import oracle_pack_sequences
    return oracle_pack_sequences(64, toks, ["lang"], shards=2, src=src)


def q_tfidf(spark, sf_dir):
    return text.tfidf_topk(_docs(spark, sf_dir)).orderBy("doc_id", "rk")


PACK_LEN, PACK_SHARDS = 128, 4


def _packed_docs(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    toks = text.token_stats(docs).select("doc_id", "n_tokens")
    d = docs.select("doc_id", "lang").join(toks, "doc_id")
    return packing.pack_sequences(d, PACK_LEN, "n_tokens", ["lang"],
                                  shards=PACK_SHARDS)


def q_seq_pack(spark, sf_dir):
    return _packed_docs(spark, sf_dir).select(
        "doc_id", "lang", "shard", "n_tokens", "start_off",
        "first_seq", "last_seq", "n_seqs").orderBy("doc_id")


def q_seq_manifest(spark, sf_dir):
    return packing.sequence_manifest(
        _packed_docs(spark, sf_dir), ["lang"]) \
        .orderBy("lang", "shard", "seq_id")


def q_quality(spark, sf_dir):
    return text.quality_score(_docs(spark, sf_dir)).orderBy("doc_id")


def q_lang_id(spark, sf_dir):
    return text.lang_id(_docs(spark, sf_dir)).orderBy("doc_id")


def q_fingerprint(spark, sf_dir):
    return text.doc_fingerprint(_docs(spark, sf_dir)).orderBy("doc_id")


def q_bpe_tokens(spark, sf_dir):
    return text.bpe_token_count(_docs(spark, sf_dir)).orderBy("doc_id")


def q_rolling_fp(spark, sf_dir):
    return text.rolling_fingerprint(_docs(spark, sf_dir)).orderBy("doc_id")


def q_winnow_pairs(spark, sf_dir):
    return text.winnow_candidate_pairs(_docs(spark, sf_dir)) \
        .orderBy("doc_a", "doc_b")


def q_cosine_topk(spark, sf_dir):
    return similarity.cosine_topk(_emb(spark, sf_dir), EMB_QUERY_IDS, k=5) \
        .orderBy("qid", "rank")


# Recall-complete LSH config for the fixtures: the synthetic near-dup
# pairs sit barely above cos 0.3 (min 0.30007 at sf0.01), the hardest
# regime for hyperplane LSH. With 2-bit keys, 8 tables and 1-bit
# multi-probe a qualifying pair is missed only if its keys differ in
# BOTH bits of ALL 8 tables: P ≈ (0.403^2)^8 ≈ 5e-7 at cos=0.3 —
# verified exhaustively equal to brute force at sf0.001 and sf0.01
# (tests/test_pipeline_ops.py). The approximate operator is thereby
# gated against the EXACT oracle: candidates ⊇ truth, and the exact
# re-rank/re-check makes the output identical.
LSH_GATE = dict(n_tables=8, planes_per_table=2, probe_bits=1)


def q_lsh_topk(spark, sf_dir):
    return similarity.lsh_topk(_emb(spark, sf_dir), EMB_QUERY_IDS, k=5,
                               **LSH_GATE).orderBy("qid", "rank")


def q_lsh_dups(spark, sf_dir):
    # the bucketed near-dup scale path; the all-pairs cosine_dup_pairs
    # join is demoted to a test-only verifier
    return similarity.lsh_dup_pairs(_emb(spark, sf_dir), 0.3, **LSH_GATE) \
        .orderBy("vec_a", "vec_b")


def q_emb_dup_clusters(spark, sf_dir):
    # closure over the SAME recall-complete LSH near-dup pairs the
    # emb_lsh_dups gate proves equal to the brute-force oracle
    from pyspark.sql import functions as F
    return (dedup.dup_clusters(
                similarity.lsh_dup_pairs(_emb(spark, sf_dir), 0.3,
                                         **LSH_GATE),
                id_a="vec_a", id_b="vec_b")
            .select(F.col("doc_id").alias("vec_id"), "cluster_id")
            .orderBy("vec_id"))


def q_ivf_topk(spark, sf_dir):
    # nprobe=None -> adaptive provably-exact probing (the learned-
    # partition ANN scale path; see similarity.ivf_topk)
    return similarity.ivf_topk(_emb(spark, sf_dir), EMB_QUERY_IDS, k=5,
                               n_centroids=8).orderBy("qid", "rank")


def q_media_decode(spark, sf_dir):
    # REAL decode: genuine PPM/WAV/PNG blobs parsed by the pure-numpy
    # decoders (PNG via stdlib zlib + scanline-filter reconstruction);
    # every decoded statistic recomputed by DuckDB from the same md5
    # integers
    m = media.synth_real_media_table(_docs(spark, sf_dir))
    return media.decode_features(m).orderBy("doc_id")


def q_media_features(spark, sf_dir):
    m = media.synth_media_table(_docs(spark, sf_dir))
    return media.extract_features(m).orderBy("doc_id")


def q_media_resize(spark, sf_dir):
    m = media.synth_media_table(_docs(spark, sf_dir))
    return media.resize_media(m).orderBy("doc_id")


def q_media_frames(spark, sf_dir):
    m = media.synth_media_table(_docs(spark, sf_dir))
    return media.frame_sample(m).orderBy("doc_id", "frame_idx")


def q_rel_pricing(spark, sf_dir):
    return relational.pricing_summary(spark, sf_dir)


def q_rel_nations(spark, sf_dir):
    return relational.orders_by_nation(spark, sf_dir)


def q_rel_window(spark, sf_dir):
    return relational.top_orders_per_customer(spark, sf_dir, k=2)


def q_rel_rollup(spark, sf_dir):
    return relational.lineitem_rollup(spark, sf_dir)


TS_BRACKETS = [(0, 0, 999), (1, 1000, 2499), (2, 2500, 2999),
               (3, 5000, 9999)]


def _geo_ev(spark, sf_dir):
    from .geo.events import derive_geo_events
    from .gate import N
    return derive_geo_events(spark, sf_dir, N)


def q_asof_join(spark, sf_dir):
    """As-of join: each sampled event gets the latest 'calibration'
    timestamp (every 7th event of the same item) at or before it."""
    from pyspark.sql import functions as F
    ev = _geo_ev(spark, sf_dir)
    left = ev.where(F.col("ts") % 13 == 0).select("ts", "item")
    right = ev.where(F.col("ts") % 7 == 0) \
        .select("item", F.col("ts"), F.col("ts").alias("rts"))
    out = temporal.asof_join(left, right, key="item", ts="ts",
                             right_val="rts")
    return (out.select("ts", "item",
                       F.coalesce("rts", F.lit(-1)).cast("bigint")
                       .alias("calib_ts"))
            .orderBy("ts"))


def oracle_asof_join():
    from .gate import _geo_cte
    return f"""
WITH geo AS ({_geo_cte()}),
l AS (SELECT ts, item FROM geo WHERE ts % 13 = 0),
r AS (SELECT item, ts AS rts FROM geo WHERE ts % 7 = 0)
SELECT l.ts AS ts, l.item AS item,
       CAST(COALESCE(r.rts, -1) AS BIGINT) AS calib_ts
FROM l ASOF LEFT JOIN r ON l.item = r.item AND l.ts >= r.rts
ORDER BY ts
"""


def q_asof_join_forward(spark, sf_dir):
    """FORWARD as-of: each sampled event gets the EARLIEST calibration
    timestamp at or after it — the next-tick direction. Oracle:
    DuckDB ASOF with the inequality flipped."""
    from pyspark.sql import functions as F
    ev = _geo_ev(spark, sf_dir)
    left = ev.where(F.col("ts") % 13 == 0).select("ts", "item")
    right = ev.where(F.col("ts") % 7 == 0) \
        .select("item", F.col("ts"), F.col("ts").alias("rts"))
    out = temporal.asof_join_forward(left, right, key="item", ts="ts",
                                     right_val="rts")
    return (out.select("ts", "item",
                       F.coalesce("rts", F.lit(-1)).cast("bigint")
                       .alias("next_calib_ts"))
            .orderBy("ts"))


def oracle_asof_join_forward():
    from .gate import _geo_cte
    return f"""
WITH geo AS ({_geo_cte()}),
l AS (SELECT ts, item FROM geo WHERE ts % 13 = 0),
r AS (SELECT item, ts AS rts FROM geo WHERE ts % 7 = 0)
SELECT l.ts AS ts, l.item AS item,
       CAST(COALESCE(r.rts, -1) AS BIGINT) AS next_calib_ts
FROM l ASOF LEFT JOIN r ON l.item = r.item AND l.ts <= r.rts
ORDER BY ts
"""


def q_asof_join_bucketed(spark, sf_dir):
    """Same as-of semantics answered by the skew-bounded epoch-bucketed
    construction — oracle identical to tmp_asof_join."""
    from pyspark.sql import functions as F
    ev = _geo_ev(spark, sf_dir)
    left = ev.where(F.col("ts") % 13 == 0).select("ts", "item")
    right = ev.where(F.col("ts") % 7 == 0) \
        .select("item", F.col("ts"), F.col("ts").alias("rts"))
    out = temporal.asof_join_bucketed(left, right, epoch_width=997,
                                      key="item", ts="ts",
                                      right_val="rts")
    return (out.select("ts", "item",
                       F.coalesce("rts", F.lit(-1)).cast("bigint")
                       .alias("calib_ts"))
            .orderBy("ts"))


def q_range_join(spark, sf_dir):
    from pyspark.sql import functions as F
    ev = _geo_ev(spark, sf_dir)
    br = spark.createDataFrame(TS_BRACKETS, "bid BIGINT, lo BIGINT, hi BIGINT")
    return (temporal.range_join(ev, br, col="ts")
            .groupBy("bid").agg(F.sum("value").alias("cnt"))
            .select(F.col("bid").cast("bigint"),
                    F.col("cnt").cast("bigint"))
            .orderBy("bid"))


def oracle_range_join():
    from .gate import _geo_cte
    vals = ",".join(f"({b},{lo},{hi})" for b, lo, hi in TS_BRACKETS)
    return f"""
WITH geo AS ({_geo_cte()}),
br(bid, lo, hi) AS (VALUES {vals})
SELECT CAST(bid AS BIGINT) AS bid, CAST(SUM(value) AS BIGINT) AS cnt
FROM br JOIN geo ON geo.ts BETWEEN lo AND hi
GROUP BY bid ORDER BY bid
"""


def q_range_join_bucketed(spark, sf_dir):
    """Same bracket counts answered by the shuffle-on-block interval
    join (the non-broadcast scale path) — oracle identical to
    tmp_range_join."""
    from pyspark.sql import functions as F
    ev = _geo_ev(spark, sf_dir)
    br = spark.createDataFrame(TS_BRACKETS, "bid BIGINT, lo BIGINT, hi BIGINT")
    return (temporal.range_join_bucketed(ev, br, block=512)
            .groupBy("bid").agg(F.sum("value").alias("cnt"))
            .select(F.col("bid").cast("bigint"),
                    F.col("cnt").cast("bigint"))
            .orderBy("bid"))


def q_time_rollup(spark, sf_dir):
    return temporal.time_rollup(_geo_ev(spark, sf_dir), width=997) \
        .orderBy("w_start")


def q_overlap_join(spark, sf_dir):
    """Interval-overlap join gate: two interval sets derived from the
    events stream (disjoint event_id slices; widths are functions of
    event_id so the oracle replays them), joined per user on inclusive
    overlap via the blocked exactly-once plan — pair-level output, so
    a single duplicated or missed pair flips the compare.
    -> (user_id, a_id, b_id, ov_lo, ov_hi), ordered."""
    from pyspark.sql import functions as F
    ev = events._events(spark, sf_dir)
    s = F.expr("timestampdiff(MICROSECOND, "
               "TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) div 1000000")
    a = (ev.where("event_id % 10 = 0")
         .select("user_id", F.col("event_id").alias("a_id"),
                 s.alias("a_lo"),
                 (s + 36000 + F.col("event_id") % 86400).alias("a_hi")))
    b = (ev.where("event_id % 10 = 1")
         .select("user_id", F.col("event_id").alias("b_id"),
                 s.alias("b_lo"),
                 (s + 18000 + F.col("event_id") % 43200).alias("b_hi")))
    return (temporal.overlap_join(a, b, block=65536, key="user_id")
            .select(F.col("user_id").cast("bigint"),
                    F.col("a_id").cast("bigint"),
                    F.col("b_id").cast("bigint"),
                    F.col("ov_lo").cast("bigint"),
                    F.col("ov_hi").cast("bigint"))
            .orderBy("user_id", "a_id", "b_id"))


def oracle_overlap_join() -> str:
    return """
WITH a AS (SELECT user_id, event_id AS a_id,
                  epoch_us(ts) // 1000000 AS a_lo,
                  epoch_us(ts) // 1000000 + 36000 + event_id % 86400 AS a_hi
           FROM events WHERE event_id % 10 = 0),
b AS (SELECT user_id, event_id AS b_id,
             epoch_us(ts) // 1000000 AS b_lo,
             epoch_us(ts) // 1000000 + 18000 + event_id % 43200 AS b_hi
      FROM events WHERE event_id % 10 = 1)
SELECT CAST(a.user_id AS BIGINT) AS user_id,
       CAST(a_id AS BIGINT) AS a_id, CAST(b_id AS BIGINT) AS b_id,
       CAST(GREATEST(a_lo, b_lo) AS BIGINT) AS ov_lo,
       CAST(LEAST(a_hi, b_hi) AS BIGINT) AS ov_hi
FROM a JOIN b ON a.user_id = b.user_id
             AND a_lo <= b_hi AND b_lo <= a_hi
ORDER BY user_id, a_id, b_id
"""


def oracle_time_rollup():
    from .gate import _geo_cte
    return f"""
WITH geo AS ({_geo_cte()})
SELECT CAST(ts - ts % 997 AS BIGINT) AS w_start,
       CAST(SUM(value) AS BIGINT) AS cnt
FROM geo GROUP BY 1 ORDER BY w_start
"""


def q_session_rollup(spark, sf_dir):
    return temporal.session_rollup(_geo_ev(spark, sf_dir), gap=173) \
        .orderBy("item", "s_start")


def oracle_session_rollup():
    """Gaps-and-islands mirror of Spark's session_window semantics:
    a session breaks only when the gap to the previous event EXCEEDS
    the session gap (exactly-gap merges — inclusive boundary, pinned
    by tests/test_temporal.py); s_end = last ts + gap."""
    from .gate import _geo_cte
    return f"""
WITH geo AS ({_geo_cte()}),
marked AS (
  SELECT item, ts, value,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY item ORDER BY ts)
                   <= 173 THEN 0 ELSE 1 END AS brk
  FROM geo
),
islands AS (
  SELECT item, ts, value,
         SUM(brk) OVER (PARTITION BY item ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT CAST(item AS BIGINT) AS item,
       CAST(MIN(ts) AS BIGINT) AS s_start,
       CAST(MAX(ts) + 173 AS BIGINT) AS s_end,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(value) AS BIGINT) AS val_sum
FROM islands GROUP BY item, sid ORDER BY item, s_start
"""


PIPELINE_GATE = {
    "tmp_asof_join": (q_asof_join, oracle_asof_join),
    "tmp_session_rollup": (q_session_rollup, oracle_session_rollup),
    "tmp_asof_join_bucketed": (q_asof_join_bucketed, oracle_asof_join),
    # r7: FORWARD as-of (next-tick direction) — DuckDB ASOF <= oracle
    "tmp_asof_forward": (q_asof_join_forward, oracle_asof_join_forward),
    "tmp_range_join": (q_range_join, oracle_range_join),
    "tmp_range_join_bucketed": (q_range_join_bucketed, oracle_range_join),
    "tmp_time_rollup": (q_time_rollup, oracle_time_rollup),
    # r7: interval x interval overlap join, blocked exactly-once plan
    "tmp_overlap_join": (q_overlap_join, oracle_overlap_join),
    "doc_exact_dedup": (q_exact_dedup, dedup.oracle_exact_dedup),
    # r7: incremental near-dup (shard vs corpus banding index)
    "doc_minhash_incremental": (
        lambda spark, sf_dir: q_minhash_incremental(spark, sf_dir),
        lambda: dedup.oracle_minhash_incremental("doc_id % 5 = 0")),
    # r7: URL/domain curation family (VERDICT r6 task 3)
    "doc_url_canonical": (q_url_canonical,
                          curation.oracle_url_canonical),
    "doc_domain_rollup": (q_domain_rollup,
                          curation.oracle_domain_rollup),
    "doc_domain_cap": (q_domain_cap,
                       lambda: curation.oracle_domain_cap(DOMAIN_CAP_K)),
    "doc_url_dedup": (q_url_dedup, curation.oracle_url_dedup),
    "doc_stratified_sample": (
        q_stratified_sample,
        lambda: sampling.oracle_stratified_sample(["lang", "source"], 7)),
    "doc_hash_sample": (q_hash_sample,
                        lambda: sampling.oracle_hash_sample(0.25)),
    "doc_mixture_sample": (q_mixture_sample, sampling.oracle_mixture_sample),
    "doc_surprisal_filter": (q_surprisal_filter,
                             text.oracle_surprisal_filter),
    "doc_budget_sample": (
        q_budget_sample,
        lambda: sampling.oracle_budget_sample(["lang"], 5000, "n_chars")),
    "doc_curation_pipeline": (q_curation_pipeline,
                              oracle_curation_pipeline),
    "doc_pii_scrub": (q_pii_scrub,
                      lambda: text.oracle_pii_scrub(_PII_TEXT_SQL)),
    "doc_span_dedup": (q_span_dedup, spans.oracle_span_dedup),
    "doc_repetition": (q_repetition, spans.oracle_repetition_stats),
    "doc_cdc_chunks": (q_cdc_chunks, spans.oracle_cdc_chunks),
    # r7: fixed-stride LM-pretraining chunking (content-fingerprinted)
    "doc_stride_chunks": (
        lambda s, d: text.stride_chunks(_docs(s, d)),
        text.oracle_stride_chunks),
    "emb_kmeans_assign": (q_kmeans_assign,
                          similarity.oracle_kmeans_assign),
    "emb_kmeans_update": (q_kmeans_update,
                          similarity.oracle_kmeans_update),
    "doc_gzip_roundtrip": (q_gzip_roundtrip,
                           text.oracle_decompress_corpus),
    "doc_model_filter": (q_model_filter,
                         text.oracle_model_quality_filter),
    "doc_decontaminate": (
        q_decontaminate,
        lambda: spans.oracle_decontaminate(
            "doc_id % 7 = 3", "doc_id % 7 <> 3")),
    "doc_jaccard_pairs": (q_jaccard_pairs,
                          lambda: dedup.oracle_jaccard_pairs(3, 10)),
    "doc_minhash_lsh": (q_minhash_lsh, dedup.oracle_minhash_candidates),
    "doc_dup_clusters": (
        q_dup_clusters,
        lambda: dedup.oracle_dup_clusters(
            dedup.oracle_minhash_candidates())),
    "doc_dup_clusters_incr": (
        q_dup_clusters_incremental,
        # SAME oracle as doc_dup_clusters: the incremental path must
        # reproduce the from-scratch full-corpus labeling exactly
        lambda: dedup.oracle_dup_clusters(
            dedup.oracle_minhash_candidates())),
    "doc_simhash": (q_simhash, dedup.oracle_simhash),
    "doc_token_stats": (q_token_stats, text.oracle_token_stats),
    "doc_tfidf": (q_tfidf, text.oracle_tfidf_topk),
    "doc_incremental_dedup": (
        q_incremental_dedup,
        lambda: dedup.oracle_incremental_dedup(
            "doc_id % 3 <> 0", "doc_id % 3 = 0")),
    "doc_length_quantiles": (q_length_quantiles,
                             text.oracle_length_quantiles),
    "doc_assign_splits": (
        q_assign_splits,
        lambda: "SELECT doc_id, lang, split FROM ("
                + sampling.oracle_assign_splits(SPLIT_FRACS).strip()
                + ") ORDER BY doc_id"),
    "doc_ngram_counts": (q_ngram_counts, text.oracle_ngram_counts),
    "doc_jsonl_ingest": (q_jsonl_ingest, text.oracle_jsonl_ingest),
    "doc_curation_to_pack": (q_curation_to_pack, oracle_curation_to_pack),
    "doc_stream_dedup": (q_stream_dedup, oracle_stream_dedup),
    # r7: exactly-once sink under full checkpoint loss + redelivery
    "evt_stream_idempotent": (q_stream_idempotent_sink,
                              oracle_stream_idempotent_sink),
    "evt_stream_window": (q_stream_window, oracle_stream_window),
    "evt_funnel": (q_evt_funnel, events.oracle_funnel),
    # r7: conversion-window funnel (stage k within 7 days of stage 1)
    "evt_funnel_windowed": (
        lambda s, d: events.funnel_windowed(events._events(s, d))
        .orderBy("user_id"),
        events.oracle_funnel_windowed),
    "evt_props_stats": (q_evt_props, events.oracle_props_stats),
    # r7: Spark 4 VARIANT — parse once, nested typed paths
    "evt_variant_props": (
        lambda s, d: events.variant_props(events._events(s, d)),
        events.oracle_variant_props),
    "evt_retention": (q_evt_retention, events.oracle_retention),
    "evt_transitions": (q_evt_transitions, events.oracle_transitions),
    "emb_pq_topk": (
        q_pq_topk,
        lambda: similarity.oracle_pq_topk(EMB_QUERY_IDS, 5)),
    "rel_pivot": (q_rel_pivot, relational.oracle_orders_status_pivot),
    "doc_global_shuffle": (q_global_shuffle,
                           sampling.oracle_global_shuffle),
    "emb_quantize_int8": (q_quantize_int8,
                          similarity.oracle_quantize_int8),
    "emb_knn_label": (
        q_knn_label,
        lambda: similarity.oracle_knn_label(EMB_QUERY_IDS, 5)),
    "doc_seq_pack": (q_seq_pack, lambda: packing.oracle_pack_sequences(
        PACK_LEN, f"CAST(len({text._WORDS}) AS BIGINT)", ["lang"],
        PACK_SHARDS)),
    "doc_seq_manifest": (
        q_seq_manifest,
        lambda: packing.oracle_sequence_manifest(
            PACK_LEN, f"CAST(len({text._WORDS}) AS BIGINT)", ["lang"],
            PACK_SHARDS)),
    "doc_quality": (q_quality, text.oracle_quality_score),
    "doc_lang_id": (q_lang_id, text.oracle_lang_id),
    "doc_fingerprint": (q_fingerprint, text.oracle_doc_fingerprint),
    "doc_bpe_tokens": (q_bpe_tokens, text.oracle_bpe_token_count),
    "doc_rolling_fp": (q_rolling_fp, text.oracle_rolling_fingerprint),
    "doc_winnow_pairs": (q_winnow_pairs, text.oracle_winnow_pairs),
    "emb_cosine_topk": (q_cosine_topk,
                        lambda: similarity.oracle_cosine_topk(EMB_QUERY_IDS, 5)),
    "emb_lsh_topk": (q_lsh_topk,
                     lambda: similarity.oracle_cosine_topk(EMB_QUERY_IDS, 5)),
    "emb_lsh_dups": (q_lsh_dups,
                     lambda: similarity.oracle_cosine_dup_pairs(0.3)),
    "emb_dup_clusters": (
        q_emb_dup_clusters,
        lambda: dedup.oracle_dup_clusters(
            similarity.oracle_cosine_dup_pairs(0.3),
            id_a="vec_a", id_b="vec_b", out_id="vec_id")),
    # adaptive IVF is provably exact (triangle-inequality list pruning
    # bounded by the query's own-list kth-best) — gated against the
    # same exact-top-k oracle as the brute-force baseline
    "emb_ivf_topk": (q_ivf_topk,
                     lambda: similarity.oracle_cosine_topk(EMB_QUERY_IDS, 5)),
    "media_features": (q_media_features, media.oracle_media_features),
    "media_decode": (q_media_decode, media.oracle_decode_features),
    "media_resize": (q_media_resize, media.oracle_resize_media),
    "media_frames": (q_media_frames, media.oracle_frame_sample),
    # r7: exact binary content-hash dedup (pre-decode multimodal pass)
    "media_dedup": (
        lambda s, d: media.media_dedup(_docs(s, d)),
        media.oracle_media_dedup),
    "rel_pricing_summary": (q_rel_pricing, relational.oracle_pricing_summary),
    "rel_orders_by_nation": (q_rel_nations, relational.oracle_orders_by_nation),
    "rel_window_topk": (q_rel_window,
                        lambda: relational.oracle_top_orders_per_customer(2)),
    "rel_rollup": (q_rel_rollup, relational.oracle_lineitem_rollup),
    "evt_stream_static_join": (q_stream_static_join,
                               oracle_stream_static_join),
    "doc_fuzzy_pairs": (
        lambda s, d: dedup.fuzzy_pairs(_docs(s, d)),
        dedup.oracle_fuzzy_pairs),
    "evt_triangle_count": (
        lambda s, d: events.triangle_counts(events._events(s, d)),
        events.oracle_triangle_counts),
    "evt_running_distinct": (
        lambda s, d: events.running_distinct(events._events(s, d)),
        events.oracle_running_distinct),
    # r7: per-window mergeable-histogram quantiles (windowed member of
    # the exact / additive-hist / GK quantile ladder)
    "evt_window_quantiles": (
        lambda s, d: events.window_quantiles(events._events(s, d)),
        events.oracle_window_quantiles),
    # r7: deterministic HyperLogLog (registers + integer-scaled
    # harmonic sum replay bit-for-bit; no engine-internal HLL++)
    "evt_hll_distinct": (
        lambda s, d: events.hll_distinct(events._events(s, d)),
        events.oracle_hll_distinct),
    # r7: RUNNING approximate distinct — the windowed MAX-merge of the
    # HLL register table (constant per-day state, vs the exact
    # composition's first-appearance sets)
    "evt_hll_running": (
        lambda s, d: events.hll_running_distinct(events._events(s, d)),
        events.oracle_hll_running_distinct),
    # r7: division-free k-sigma outlier days over ingest volumes
    "evt_anomaly_days": (
        lambda s, d: events.anomaly_days(events._events(s, d)),
        events.oracle_anomaly_days),
    "evt_stream_complete_topk": (q_stream_complete_topk,
                                 oracle_stream_complete_topk),
    "evt_stream_update_counts": (q_stream_update_counts,
                                 oracle_stream_update_counts),
    "rel_nullsafe_join": (
        lambda s, d: relational.nullsafe_join_rollup(s, d),
        relational.oracle_nullsafe_join_rollup),
    "rel_rank_family": (
        lambda s, d: relational.customer_rank_family(s, d),
        relational.oracle_customer_rank_family),
    "rel_gap_fill": (
        lambda s, d: relational.orders_gap_fill(s, d),
        relational.oracle_orders_gap_fill),
    "rel_range_frame": (
        lambda s, d: relational.customer_trailing_spend(s, d),
        relational.oracle_customer_trailing_spend),
    "rel_grouping_sets": (
        lambda s, d: relational.lineitem_grouping_sets(s, d),
        relational.oracle_lineitem_grouping_sets),
    "rel_cube": (lambda s, d: relational.lineitem_cube(s, d),
                 relational.oracle_lineitem_cube),
    "rel_semi_anti": (lambda s, d: relational.customers_semi_anti(s, d),
                      relational.oracle_customers_semi_anti),
    # r7: fact x fact sort-merge join (the non-broadcast join class)
    "rel_fact_fact_join": (
        lambda s, d: relational.fact_fact_revenue(s, d),
        relational.oracle_fact_fact_revenue),
    # r7: ANSI INTERSECT / EXCEPT set algebra
    "rel_set_ops": (lambda s, d: relational.customer_set_ops(s, d),
                    relational.oracle_customer_set_ops),
    # r7: correlated scalar subqueries left to Catalyst decorrelation;
    # IDENTICAL SQL text runs on the DuckDB side
    "rel_scalar_subq": (
        lambda s, d: relational.orders_above_cust_avg(s, d),
        relational.oracle_orders_above_cust_avg),
    # r7: RECURSIVE CTE (Spark 4) — ancestor transitive closure;
    # same SQL text modulo the integer-division spelling
    "rel_recursive_cte": (
        lambda s, d: relational.doc_ancestor_closure(s, d),
        relational.oracle_doc_ancestor_closure),
    "rel_running_window": (
        lambda s, d: relational.customer_running_spend(s, d, 20),
        lambda: relational.oracle_customer_running_spend(20)),
    # --- round 6: the eight r5 pytest-tier candidates, promoted ---
    "evt_session_paths": (q_session_paths, events.oracle_session_paths),
    "rel_unpivot": (q_unpivot, relational.oracle_orders_status_unpivot),
    "doc_containment_pairs": (q_containment_pairs,
                              dedup.oracle_containment_pairs),
    "doc_pagerank": (q_doc_pagerank, dedup.oracle_doc_pagerank),
    "rel_part_cooccurrence": (q_part_cooccurrence,
                              relational.oracle_part_cooccurrence),
    "doc_upsert_corpus": (
        q_upsert_corpus,
        lambda: dedup.oracle_upsert_corpus("doc_id % 4 = 1")),
    "emb_ivfpq_topk": (
        q_ivfpq_topk,
        lambda: similarity.oracle_ivfpq_topk(EMB_QUERY_IDS, 5)),
    # r7: full Lloyd training loop (chained assign+update, 2 rounds)
    "emb_kmeans_trained": (
        lambda spark, sf_dir: similarity.kmeans_train(
            _emb(spark, sf_dir), iters=2).orderBy("cid", "dim"),
        lambda: similarity.oracle_kmeans_train(iters=2)),
    # r7: IVF search over the TRAINED codebook — training, list
    # build, probing and re-rank ALL replayed end-to-end in DuckDB
    "emb_ivf_trained_topk": (
        lambda spark, sf_dir: similarity.ivf_trained_topk(
            _emb(spark, sf_dir), EMB_QUERY_IDS, 5),
        lambda: similarity.oracle_ivf_trained_topk(EMB_QUERY_IDS, 5)),
    # r7: residual-quantized IVF-PQ (the FAISS-default recall upgrade)
    "emb_ivfpq_res_topk": (
        q_ivfpq_res_topk,
        lambda: similarity.oracle_ivfpq_residual_topk(EMB_QUERY_IDS, 5)),
    # r7: exact radius search with lossless IVF list pruning; oracle
    # is independent brute force over all pairs
    "emb_range_search": (
        lambda s, d: similarity.range_search(_emb(s, d), EMB_QUERY_IDS),
        lambda: similarity.oracle_range_search(EMB_QUERY_IDS)),
    "evt_stream_sliding": (q_stream_sliding, oracle_stream_sliding),
    # r7: stateful gap sessionization (VERDICT r6 task 4)
    "evt_stream_session": (q_stream_session, oracle_stream_session),
    # r7: watermark-bounded streaming dedup (state eviction proven)
    "evt_stream_dedup_wm": (q_stream_dedup_wm, oracle_stream_dedup_wm),
    "evt_stream_join": (q_stream_join, oracle_stream_join),
    # r7: LEFT SEMI variant completes the stream-stream join family
    "evt_stream_join_semi": (q_stream_join_semi,
                             oracle_stream_join_semi),
    "evt_stream_join_outer": (q_stream_join_outer,
                              oracle_stream_join_outer),
    # r7: unequal watermark delays (600 s vs 30 s) — global watermark
    # = min over sides, pinned EXACTLY via a clock row
    "evt_stream_join_uneq": (q_stream_join_uneq,
                             oracle_stream_join_uneq),
    # r6: ANALYZE-class per-column profiling (one-pass NDV/min/max)
    "rel_profile_table": (
        lambda s, d: relational.profile_table(s, d).orderBy("col_name"),
        relational.oracle_profile_table),
    # r6: mergeable histogram-sketch quantiles (scale path next to the
    # exact percentile_disc gate)
    "doc_hist_quantiles": (
        lambda s, d: text.hist_quantiles(_docs(s, d)).orderBy("lang", "q"),
        text.oracle_hist_quantiles),
    "doc_orc_roundtrip": (q_orc_roundtrip, oracle_orc_roundtrip),
    # r7: RFC-4180 CSV roundtrip under planted quotes/commas/newlines
    "doc_csv_roundtrip": (q_csv_roundtrip, oracle_csv_roundtrip),
    "doc_dynamic_overwrite": (q_dynamic_overwrite,
                              oracle_dynamic_overwrite),
    "doc_schema_merge": (q_schema_merge, oracle_schema_merge),
    "doc_gk_quantiles": (
        lambda s, d: text.gk_quantiles(_docs(s, d)),
        text.oracle_gk_quantiles),
    # r7: interpolating percentile_cont semantics, float-free via
    # (lo, hi, frac_num) integer emission
    "doc_cont_quantiles": (
        lambda s, d: text.cont_quantiles(_docs(s, d)),
        text.oracle_cont_quantiles),
    # --- round 6: SCD-2 versioned upsert + time travel (VERDICT #6) ---
    "doc_scd2_versions": (
        q_scd2_versions,
        lambda: dedup.oracle_scd2_upsert(SCD2_PREDS, SCD2_PREFIXES)),
    "doc_scd2_asof": (
        q_scd2_asof,
        lambda: dedup.oracle_scd2_asof(SCD2_PREDS, SCD2_PREFIXES, 1)),
}
