"""Training-data curation queries, round 3: chunking, lexical
entropy, benchmark decontamination, sequence packing, and embedding
quantization — the remaining ops a 100 TB LLM data pipeline runs
between raw corpus and training shards.

Design rules as elsewhere: JVM built-ins only in hot paths (let-bound
token arrays, no Python), deterministic arithmetic (decimal-exact sums
where cross-engine order could flip double bits), and every query
paired with a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from logicash_etl_spark.operators.caching import scoped_persist
from logicash_etl_spark.operators.partitioning import scale_out
from logicash_etl_spark.operators.text import tokens
from logicash_etl_spark.queries.registry import query
from logicash_etl_spark.sources.readers import read_table

_CHUNK = 128    # tokens per chunk
_STRIDE = 112   # chunk start stride -> 16-token overlap


@query(
    "doc_chunking",
    oracle=rf"""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS ws
      FROM documents
    ), starts AS (
      SELECT doc_id, ws, unnest(generate_series(1, greatest(len(ws), 1), {_STRIDE})) AS s
      FROM w
    )
    SELECT doc_id,
           CAST((s - 1) / {_STRIDE} AS BIGINT) AS chunk_idx,
           least({_CHUNK}, len(ws) - s + 1) AS n_tokens,
           md5(array_to_string(ws[s : s + {_CHUNK} - 1], ' ')) AS chunk_hash
    FROM starts
    """,
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-budget chunking (128-token windows,
    112-token stride; see _CHUNK/_STRIDE): the doc -> training-sample
    expansion.
    Row-local (no shuffle at all): a let-bound token array feeds a
    transform over chunk starts, then one explode — at 100 TB this is
    a map-only pass whose output is written straight to shards.
    Chunk content is emitted as md5 so the row stays scalar-hashable.
    """
    docs = scale_out(read_table(spark, sf_dir, "documents").select("doc_id", "text"))
    chunks = F.flatten(
        F.transform(
            F.array(tokens("text")),
            lambda t: F.transform(
                # chunk starts 1, 1+stride, ... (1-based like slice());
                # empty docs still emit one empty chunk (greatest(n,1))
                F.sequence(F.lit(1), F.greatest(F.size(t), F.lit(1)), F.lit(_STRIDE)),
                lambda s: F.struct(
                    ((s - 1) / _STRIDE).cast("bigint").alias("chunk_idx"),
                    F.least(F.lit(_CHUNK), F.size(t) - s + 1).alias("n_tokens"),
                    F.md5(F.array_join(F.slice(t, s, _CHUNK), " ")).alias("chunk_hash"),
                ),
            ),
        )
    )
    return docs.select("doc_id", F.explode(chunks).alias("c")).select(
        "doc_id", "c.chunk_idx", "c.n_tokens", "c.chunk_hash"
    )


@query(
    "unigram_entropy",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id, unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                                        x -> x <> '')) AS word
      FROM documents
    ), tf AS (
      SELECT doc_id, word, count(*) AS c FROM tok GROUP BY doc_id, word
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           round(ln(CAST(SUM(c) AS DOUBLE)) - SUM(c * ln(CAST(c AS DOUBLE))) / SUM(c), 6)
             AS entropy
    FROM tf GROUP BY doc_id
    """,
)
def unigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram Shannon entropy (nats) — the lexical-
    diversity quality score (low entropy = boilerplate/spam). Uses the
    aggregation identity H = ln(N) - sum(c*ln(c))/N so one (doc, word)
    count pass and one (doc) pass suffice; both aggregates are
    map-side combinable, shuffle rows are (doc_id, word-count) longs.
    """
    docs = scale_out(read_table(spark, sf_dir, "documents").select("doc_id", "text"))
    tok = docs.select("doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("word"))
    tf = tok.groupBy("doc_id", "word").agg(F.count("*").alias("c"))
    n = F.sum("c")
    return tf.groupBy("doc_id").agg(
        n.cast("bigint").alias("n_tokens"),
        F.round(
            F.log(n.cast("double")) - F.sum(F.col("c") * F.log(F.col("c").cast("double"))) / n,
            6,
        ).alias("entropy"),
    )


@query(
    "benchmark_contamination",
    oracle=r"""
    WITH w AS (
      SELECT doc_id, source,
             list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS ws
      FROM documents
    ), sh AS (
      SELECT doc_id, source, unnest(list_distinct(
               CASE WHEN len(ws) >= 5
                    THEN list_transform(generate_series(1, len(ws) - 4),
                                        i -> array_to_string(ws[i:i+4], ' '))
                    ELSE [] END)) AS s
      FROM w
    ), bench AS (
      SELECT DISTINCT s FROM sh WHERE doc_id % 100 = 0
    ), hits AS (
      SELECT DISTINCT doc_id FROM sh
      WHERE doc_id % 100 <> 0 AND s IN (SELECT s FROM bench)
    )
    SELECT source,
           count(*) AS n_train_docs,
           CAST(SUM(CASE WHEN doc_id IN (SELECT doc_id FROM hits) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_contaminated
    FROM documents WHERE doc_id % 100 <> 0
    GROUP BY source
    """,
)
def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination scan: a training doc is contaminated
    when it shares >= 1 distinct 5-gram with the benchmark set (here
    every doc_id % 100 == 0 stands in for an eval suite). The check is
    two semi-joins on 64-bit shingle hashes — the benchmark side is
    tiny and broadcast, so at 100 TB the train corpus streams once and
    nothing quadratic exists (vs. the pairwise overlap a naive
    implementation would join)."""
    from logicash_etl_spark.operators.text import word_shingles

    docs = read_table(spark, sf_dir, "documents")
    sh = (
        scale_out(docs.select("doc_id", "text")).select(
            "doc_id",
            F.explode(F.array_distinct(word_shingles("text", 5))).alias("__s"),
        ).select("doc_id", F.xxhash64("__s").alias("sh"))
    )
    bench = sh.filter(F.col("doc_id") % 100 == 0).select("sh").distinct()
    hits = (
        sh.filter(F.col("doc_id") % 100 != 0)
        .join(F.broadcast(bench), on="sh", how="left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    train = docs.filter(F.col("doc_id") % 100 != 0).select("doc_id", "source")
    return (
        train.join(hits, on="doc_id", how="left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_train_docs"),
            F.sum(F.coalesce("__hit", F.lit(0))).cast("bigint").alias("n_contaminated"),
        )
    )


@query(
    "sequence_packing_stats",
    oracle=r"""
    WITH t AS (
      -- COALESCE: a NULL-text doc occupies 0 tokens in the packing
      -- stream but keeps its slot in the doc order (mirrored Spark-
      -- side; Spark's size(NULL) = -1 would corrupt the offsets)
      SELECT doc_id, source,
             len(list_filter(string_split_regex(trim(COALESCE(text, '')), '\s+'), x -> x <> ''))
               AS n_tokens
      FROM documents
    ), packed AS (
      -- explicit floor: DuckDB CAST(double AS BIGINT) rounds to
      -- nearest while Spark's cast truncates
      SELECT source, n_tokens,
             CAST(floor((SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         - n_tokens) / 2048.0) AS BIGINT) AS bin
      FROM t
    )
    SELECT source, bin,
           count(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
    FROM packed GROUP BY source, bin
    """,
)
def sequence_packing_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous-stream sequence packing (GPT-style): per source,
    docs concatenate in doc_id order into one token stream; a doc's
    bin is its start offset / 2048 (context length). The running
    offset is ``grouped_prefix_sum`` (range-bucketed windows WITHIN
    each source) — packing stays parallel even when one source holds
    most of the corpus, where a plain per-source window would
    serialize it through one task at 100 TB."""
    from logicash_etl_spark.operators.partitioning import grouped_prefix_sum

    docs = scale_out(read_table(spark, sf_dir, "documents").select("doc_id", "source", "text"))
    # NULL text packs as 0 tokens (coalesce BEFORE tokenize — Spark's
    # size(NULL) is -1, which would walk the running offsets
    # backwards)
    t = docs.select(
        "doc_id",
        "source",
        F.size(tokens(F.coalesce(F.col("text"), F.lit("")))).alias("n_tokens"),
    )
    packed = grouped_prefix_sum(
        t,
        group_col="source",
        bucket_key="doc_id",
        order_cols=[F.col("doc_id")],
        value_col="n_tokens",
        out_col="__off",
    ).select(
        "source",
        "n_tokens",
        F.floor(F.col("__off") / 2048).cast("bigint").alias("bin"),
    )
    return packed.groupBy("source", "bin").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("bin_tokens"),
    )


@query(
    "embedding_quantization_error",
    oracle="""
    WITH q AS (
      SELECT label,
             CAST(embedding AS DOUBLE[]) AS e,
             greatest(list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))),
                      1e-12) AS amax
      FROM embeddings
    ), err AS (
      SELECT label,
             CAST(list_sum(list_transform(e,
                    x -> pow(x - (floor(x * (127.0 / amax) + 0.5) * (amax / 127.0)), 2)))
                  / len(e) AS DECIMAL(18,12)) AS mse
      FROM q
    )
    SELECT label,
           count(*) AS n_vectors,
           CAST(SUM(mse) AS DOUBLE) AS total_mse
    FROM err GROUP BY label
    """,
)
def embedding_quantization_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization audit: per vector, scale =
    127/max|x|, q = floor(x*scale + 0.5) (explicit half-up — identical
    across engines, unlike round()), reconstruction MSE per vector,
    summed per label as DECIMAL so the cross-partition sum is
    order-independent. This is the storage decision audit for an
    embedding lake (4x smaller index vs recall loss)."""
    emb = scale_out(read_table(spark, sf_dir, "embeddings").select("label", "embedding"))
    e = F.col("embedding").cast("array<double>")
    amax = F.greatest(
        F.array_max(F.transform(e, lambda x: F.abs(x))), F.lit(1e-12)
    )
    q = emb.select("label", e.alias("e"), amax.alias("amax"))
    scale = F.lit(127.0) / F.col("amax")
    inv = F.col("amax") / F.lit(127.0)
    sq_err = F.aggregate(
        F.transform(
            F.col("e"),
            lambda x: F.pow(x - (F.floor(x * scale + F.lit(0.5)) * inv), F.lit(2)),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    err = q.select(
        "label", (sq_err / F.size("e")).cast("decimal(18,12)").alias("mse")
    )
    return err.groupBy("label").agg(
        F.count("*").alias("n_vectors"),
        F.sum("mse").cast("double").alias("total_mse"),
    )


@query(
    "event_delivery_dedup",
    oracle="""
    WITH seq AS (
      SELECT event_type,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id, event_type, value ORDER BY ts, event_id
             ) AS gap_us
      FROM events
    )
    SELECT event_type,
           count(*) AS n_total,
           CAST(SUM(CASE WHEN gap_us IS NULL OR gap_us > 300000000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM seq GROUP BY event_type
    """,
)
def event_delivery_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once delivery dedup: a row is a redelivery when the
    same (user, type, value) payload arrived within 5 minutes before
    it. One lag window over the content key — a single shuffle on the
    key, no self-join (the naive time-range self-join is quadratic per
    key group). The streaming analog is dropDuplicatesWithinWatermark;
    this is the batch/backfill form with identical keep semantics."""
    ev = read_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type", "value").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    seq = ev.select("event_type", gap.alias("gap_us"))
    return seq.groupBy("event_type").agg(
        F.count("*").alias("n_total"),
        F.sum(
            F.when(F.col("gap_us").isNull() | (F.col("gap_us") > 300_000_000), 1).otherwise(0)
        ).cast("bigint").alias("n_kept"),
    )


@query(
    "sentence_explode_udtf",
    oracle="""
    WITH s AS (
      SELECT doc_id, source,
             list_filter(list_transform(string_split(text, '.'), x -> trim(x)),
                         x -> x <> '') AS sents
      FROM documents
    )
    SELECT source,
           CAST(SUM(len(sents)) AS BIGINT) AS n_sentences,
           CAST(SUM(list_sum(list_transform(sents, x -> length(x)))) AS BIGINT)
             AS total_sentence_chars,
           CAST(max(list_max(list_transform(sents, x -> length(x)))) AS BIGINT)
             AS max_sentence_chars
    FROM s GROUP BY source
    """,
)
def sentence_explode_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (Spark 4 table function + LATERAL join):
    one input doc -> N (sentence_idx, sentence) rows, then a per-source
    profile. UDTFs are the structured extension point for row-expanding
    Python logic the built-ins can't express (real sentence splitters,
    parsers); like all row-at-a-time Python they are the FLEXIBILITY
    path — this profile's oracle-checked equivalent could run as pure
    JVM split+explode, which is exactly what the hot path should do.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="sentence_idx int, sentence string, n_chars int")
    class SentenceSplit:
        def eval(self, text: str):  # noqa: D102 - UDTF contract
            if text is None:
                return
            idx = 0
            for raw in text.split("."):
                s = raw.strip()
                if s:
                    yield idx, s, len(s)
                    idx += 1

    spark.udtf.register("sentence_split", SentenceSplit)
    docs = scale_out(read_table(spark, sf_dir, "documents").select("doc_id", "source", "text"))
    docs.createOrReplaceTempView("__docs_for_udtf")
    sents = spark.sql(
        """
        SELECT d.source, s.sentence_idx, s.n_chars
        FROM __docs_for_udtf d, LATERAL sentence_split(d.text) s
        """
    )
    return sents.groupBy("source").agg(
        F.count("*").alias("n_sentences"),
        F.sum("n_chars").cast("bigint").alias("total_sentence_chars"),
        F.max("n_chars").cast("bigint").alias("max_sentence_chars"),
    )


@query(
    "media_decode_meta",
    oracle="""
    WITH h AS (
      SELECT sha256(text) AS hx,
             octet_length(encode(text)) AS nb
      FROM documents
    ), meta AS (
      SELECT CASE WHEN hx IS NULL THEN NULL
                  WHEN CAST(('0x' || substr(hx, 5, 2)) AS INT) % 2 = 1
                  THEN 'png' ELSE 'jpeg' END AS format,
             16 + CAST(('0x' || substr(hx, 1, 2)) AS INT) % 64 AS width,
             16 + CAST(('0x' || substr(hx, 3, 2)) AS INT) % 64 AS height,
             nb
      FROM h
    )
    SELECT format,
           count(*) AS n_media,
           CAST(SUM(width) AS BIGINT) AS total_width,
           CAST(SUM(height) AS BIGINT) AS total_height,
           CAST(SUM(nb) AS BIGINT) AS total_bytes
    FROM meta GROUP BY format
    """,
)
def media_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode fan-out, driver-visible: documents packed as media blobs
    -> Arrow-batched ``mapInPandas`` decode -> per-format profile. The
    kernel is the deterministic digest-based stub (the fixtures hold no
    media corpus), whose arithmetic the oracle reproduces in SQL — so
    the correctness signal covers the REAL plumbing: struct packing,
    Arrow batch transfer, schema contract, and the aggregate over
    decoder output."""
    from logicash_etl_spark.operators.multimodal import decode_image_meta, pack_media

    docs = scale_out(read_table(spark, sf_dir, "documents").select("doc_id", "text"))
    media = pack_media(docs.withColumn("blob", F.encode("text", "utf-8")), "blob", "text/plain")
    meta = decode_image_meta(media)
    return meta.groupBy("format").agg(
        F.count("*").alias("n_media"),
        F.sum("width").cast("bigint").alias("total_width"),
        F.sum("height").cast("bigint").alias("total_height"),
        F.sum("media_bytes").cast("bigint").alias("total_bytes"),
    )


@query(
    "variant_json_surface",
    oracle="""
    SELECT event_type,
           CAST(SUM(CASE WHEN json_type(props) = 'OBJECT' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_objects,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT) % 7) AS BIGINT)
             AS k_mod_total,
           CAST(SUM(CASE WHEN json_extract_string(props, '$.missing') IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_missing
    FROM events GROUP BY event_type
    """,
)
def variant_json_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT surface (Spark 4): ``parse_json`` into
    an open-schema variant once, then typed ``variant_get`` paths —
    the engine-native way to scan heterogeneous JSON at 100 TB (parse
    once into a binary-encoded variant, prune fields at access time)
    versus re-parsing strings per extraction. Missing paths yield NULL
    (schema-on-read), checked alongside a typed projection."""
    ev = read_table(spark, sf_dir, "events")
    v = ev.select("event_type", F.parse_json("props").alias("v"))
    k = F.variant_get("v", "$.k", "bigint")
    missing = F.variant_get("v", "$.missing", "string")
    is_obj = F.schema_of_variant(F.col("v")).startswith("OBJECT")
    return v.groupBy("event_type").agg(
        F.sum(F.when(is_obj, 1).otherwise(0)).cast("bigint").alias("n_objects"),
        F.sum(k % 7).cast("bigint").alias("k_mod_total"),
        F.sum(F.when(missing.isNull(), 1).otherwise(0)).cast("bigint").alias("n_missing"),
    )


@query(
    "frame_sample_inventory",
    oracle="""
    WITH media AS (
      -- NULL media cannot be frame-sampled: only decodable rows are
      -- inventoried (mirrors Spark's explode over a NULL sequence
      -- emitting zero rows)
      SELECT doc_id, source, octet_length(encode(text)) AS nb
      FROM documents
      WHERE text IS NOT NULL
    ), frames AS (
      SELECT source, len(generate_series(0, CAST(floor(nb / 100.0) AS INT), 10))
               AS n_sampled
      FROM media
    )
    SELECT source,
           count(*) AS n_videos,
           CAST(SUM(n_sampled) AS BIGINT) AS n_frames_sampled
    FROM frames GROUP BY source
    """,
)
def frame_sample_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan, driver-visible: 1 media row ->
    every-10th-frame rows via explode (the decode fan-out shape and
    partition-size planning a video pipeline runs before spending
    codec CPU). Frame counts derive deterministically from byte length
    (no codec in this container), which the oracle reproduces — the
    signal covers the expansion arithmetic and explode shape."""
    from logicash_etl_spark.operators.multimodal import frame_sample_plan, pack_media

    docs = scale_out(read_table(spark, sf_dir, "documents").select("doc_id", "source", "text"))
    media = pack_media(docs.withColumn("blob", F.encode("text", "utf-8")), "blob", "video/fake")
    frames = frame_sample_plan(media)
    return (
        frames.join(docs.select(F.col("doc_id").alias("id"), "source"), on="id")
        .groupBy("source")
        .agg(
            F.countDistinct("id").alias("n_videos"),
            F.count("*").cast("bigint").alias("n_frames_sampled"),
        )
    )


@query(
    "skew_salted_supplier_revenue",
    oracle="""
    SELECT s_nationkey,
           count(*) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_nationkey
    """,
)
def skew_salted_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manually salted equi-join, driver-visible (operators/joins.py::
    join_with_skew_salt): the big side salts its key, the small side
    replicates across salts, the join runs on (key, salt). Results are
    salt-invariant — the oracle is the PLAIN join — which is exactly
    the contract: salting changes task distribution (one hot key
    becomes salt_buckets tasks), never the answer. The fallback for
    skew that AQE can't fix (broadcast-ineligible skewed dims)."""
    from logicash_etl_spark.functions.money import money
    from logicash_etl_spark.operators.joins import join_with_skew_salt

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", money("l_extendedprice").alias("price")
    )
    sup = read_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    joined = join_with_skew_salt(li, sup, on="l_suppkey")
    return joined.groupBy("s_nationkey").agg(
        F.count("*").alias("n_items"),
        F.sum("price").cast("double").alias("revenue"),
    )


@query(
    "unigram_surprisal_score",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id, unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                                        x -> x <> '')) AS word
      FROM documents
    ), vocab AS (
      SELECT word, count(*) AS c FROM tok GROUP BY word
    ), tot AS (
      SELECT SUM(c) AS n FROM vocab
    )
    SELECT t.doc_id,
           count(*) AS n_tokens,
           round(SUM(-ln(CAST(v.c AS DOUBLE) / (SELECT n FROM tot))) / count(*), 6)
             AS mean_surprisal
    FROM tok t JOIN vocab v USING (word)
    GROUP BY t.doc_id
    """,
)
def unigram_surprisal_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality score (the CCNet-style filter signal):
    mean negative log-probability of a doc's tokens under the corpus
    unigram distribution — low = templated/common text, high = rare or
    noisy. Two mergeable aggregate passes (corpus vocab, per-doc
    score). The vocab side of the scoring join is |vocab| rows — far
    smaller than the corpus, but CORPUS-DERIVED and unbounded (Heaps'
    law: billions of distinct tokens on 100 TB of web text), so it
    reaches the join UNHINTED: AQE broadcasts it only while its
    runtime size allows, and falls back to a shuffled join beyond the
    threshold instead of a forced-hint driver OOM. Only the
    single-row corpus total is hinted (constant size)."""
    from logicash_etl_spark.operators.joins import broadcast_bounded

    docs = scale_out(read_table(spark, sf_dir, "documents").select("doc_id", "text"))
    # persisted: the vocab build and the scoring join both read the
    # token stream, and vocab feeds the corpus total and the
    # probability join; each re-read would re-tokenize or re-shuffle
    tok = scoped_persist(
        docs.select(
            "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("word")
        )
    )
    vocab = scoped_persist(tok.groupBy("word").agg(F.count("*").alias("c")))
    total = vocab.agg(F.sum("c").alias("n"))
    v = vocab.crossJoin(broadcast_bounded(total, bounded=True)).select(
        "word", (F.col("c").cast("double") / F.col("n")).alias("p")
    )
    scored = tok.join(broadcast_bounded(v, bounded=False), on="word")
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.round(F.sum(-F.log("p")) / F.count("*"), 6).alias("mean_surprisal"),
    )


@query(
    "width_bucket_histogram",
    oracle="""
    WITH b AS (
      -- DuckDB has no width_bucket: spell out the same semantics
      -- (bucket i covers [lo + (i-1)*w, lo + i*w); 0/21 = under/overflow)
      SELECT event_type, value,
             CASE WHEN CAST(value AS DOUBLE) < 0.0 THEN 0
                  WHEN CAST(value AS DOUBLE) >= 1000.0 THEN 21
                  ELSE CAST(floor(CAST(value AS DOUBLE) / 50.0) AS BIGINT) + 1 END AS bucket
      FROM events
    )
    SELECT event_type, bucket,
           count(*) AS n,
           round(CAST(min(value) AS DOUBLE), 2) AS lo,
           round(CAST(max(value) AS DOUBLE), 2) AS hi
    FROM b
    GROUP BY event_type, bucket
    """,
)
def width_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram via the SQL-standard width_bucket (Spark 4
    built-in): 20 buckets over [0, 1000) plus the under/overflow
    buckets 0 and 21 — one map-side-combinable aggregate, the
    profiling histogram shape for numeric columns at any scale."""
    ev = read_table(spark, sf_dir, "events")
    b = F.width_bucket(F.col("value").cast("double"), F.lit(0.0), F.lit(1000.0), F.lit(20))
    return ev.groupBy("event_type", b.alias("bucket")).agg(
        F.count("*").alias("n"),
        F.round(F.min("value").cast("double"), 2).alias("lo"),
        F.round(F.max("value").cast("double"), 2).alias("hi"),
    )


@query(
    "map_function_surface",
    oracle="""
    WITH kv AS (
      SELECT o_orderpriority AS k, count(*) AS c FROM orders GROUP BY o_orderpriority
    )
    SELECT CAST(count(*) AS INT) AS n_keys,
           array_to_string(list_sort(list(k)), ',') AS keys_sorted,
           CAST(SUM(CASE WHEN k = '1-URGENT' THEN c ELSE 0 END) AS BIGINT) AS urgent_n,
           CAST(max(c) AS BIGINT) AS max_group
    FROM kv
    """,
)
def map_function_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: build map<priority, count> with
    map_from_entries, then interrogate it with map_keys /
    element_at / map_filter / aggregate — the collection type the
    relational surface otherwise never exercises. Output is serialized
    to scalars (sorted key list, lookups) because map columns are not
    canonicalizable by the driver; the oracle computes the same
    scalars set-wise."""
    o = read_table(spark, sf_dir, "orders")
    kv = o.groupBy(F.col("o_orderpriority").alias("k")).agg(F.count("*").alias("c"))
    m = kv.agg(
        F.map_from_entries(F.collect_list(F.struct("k", "c"))).alias("m")
    )
    return m.select(
        F.size("m").alias("n_keys"),
        F.array_join(F.array_sort(F.map_keys("m")), ",").alias("keys_sorted"),
        F.coalesce(F.element_at("m", "1-URGENT"), F.lit(0)).cast("bigint").alias("urgent_n"),
        F.array_max(F.map_values("m")).cast("bigint").alias("max_group"),
    )


@query(
    "domain_mixture_weights",
    oracle=r"""
    WITH per AS (
      SELECT source, count(*) AS n_docs,
             CAST(SUM(len(list_filter(string_split_regex(trim(text), '\s+'),
                                      x -> x <> ''))) AS BIGINT) AS total_tokens
      FROM documents GROUP BY source
    )
    SELECT source, n_docs, total_tokens,
           round(CAST(total_tokens AS DOUBLE)
                 / CAST(SUM(total_tokens) OVER () AS DOUBLE), 6) AS token_share,
           round(CAST(SUM(total_tokens) OVER () AS DOUBLE)
                 / CAST(COUNT(*) OVER () * total_tokens AS DOUBLE), 6)
             AS uniform_weight
    FROM per
    """,
)
def domain_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture arithmetic: per-source token share and the
    per-source sampling weight that flattens the mixture to uniform
    (weight = total / (n_sources * source_tokens); weight > 1 means
    the source is upsampled / multi-epoched). The am-I-about-to-
    5-epoch-this-source audit every pretraining data pipeline runs.

    Plan: one groupBy(source) over the corpus (map-side combine), then
    the totals join back as a broadcast single row — the corpus is
    scanned once; the weights math runs on a #sources-row frame."""
    docs = read_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(tokens("text"))).cast("bigint").alias("total_tokens"),
    )
    totals = per.agg(
        F.sum("total_tokens").alias("__total"), F.count("*").alias("__n")
    )
    return per.crossJoin(F.broadcast(totals)).select(
        "source",
        "n_docs",
        "total_tokens",
        F.round(
            F.col("total_tokens").cast("double") / F.col("__total").cast("double"), 6
        ).alias("token_share"),
        F.round(
            F.col("__total").cast("double")
            / (F.col("__n") * F.col("total_tokens")).cast("double"),
            6,
        ).alias("uniform_weight"),
    )


@query(
    "ngram_diversity_by_source",
    oracle=r"""
    WITH w AS (
      SELECT source,
             list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS ws
      FROM documents
    ), g AS (
      SELECT source,
             unnest(CASE WHEN len(ws) >= 2
                         THEN list_transform(generate_series(1, len(ws) - 1),
                                             i -> array_to_string(ws[i:i+1], ' '))
                         ELSE [] END) AS bg
      FROM w
    )
    SELECT source,
           count(*) AS total_bigrams,
           count(DISTINCT bg) AS distinct_bigrams,
           round(CAST(count(DISTINCT bg) AS DOUBLE) / count(*), 6)
             AS type_token_ratio
    FROM g GROUP BY source
    """,
)
def ngram_diversity_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus diversity audit: bigram type-token ratio per source —
    near-0 TTR flags template/boilerplate sources (the ones near-dup
    detectors then drown in). One explode + one groupBy; the distinct
    count is the only shuffle-heavy part and swaps for HLL at 100 TB
    (cf. approx_sketches' bound-checked pattern)."""
    from logicash_etl_spark.operators.text import word_shingles

    docs = scale_out(read_table(spark, sf_dir, "documents").select("source", "text"))
    g = docs.select("source", F.explode(word_shingles("text", 2)).alias("bg"))
    return g.groupBy("source").agg(
        F.count("*").alias("total_bigrams"),
        F.count_distinct("bg").alias("distinct_bigrams"),
        F.round(
            F.count_distinct("bg").cast("double") / F.count("*"), 6
        ).alias("type_token_ratio"),
    )


@query(
    "exact_dup_rate_by_source",
    oracle=r"""
    SELECT source,
           count(*) AS n_docs,
           count(DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))))
             AS n_unique,
           round(1.0 - CAST(count(DISTINCT md5(trim(regexp_replace(lower(text),
                 '\s+', ' ', 'g')))) AS DOUBLE) / count(*), 6) AS dup_rate
    FROM documents GROUP BY source
    """,
)
def exact_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-duplicate rate on the normalized-content
    fingerprint — the triage number that decides which source needs
    the expensive near-dup pass. Shuffle carries (source, md5) only."""
    from logicash_etl_spark.operators.text import content_hash

    docs = read_table(spark, sf_dir, "documents")
    h = docs.select("source", content_hash(F.col("text")).alias("__h"))
    return h.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count_distinct("__h").alias("n_unique"),
        F.round(
            1.0 - F.count_distinct("__h").cast("double") / F.count("*"), 6
        ).alias("dup_rate"),
    )


@query(
    "jaccard_threshold_sweep",
    oracle=r"""
    WITH w AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS ws
      FROM documents
    ), sh AS (
      SELECT doc_id, unnest(list_distinct(
               CASE WHEN len(ws) >= 3
                    THEN list_transform(generate_series(1, len(ws) - 2),
                                        i -> array_to_string(ws[i:i+2], ' '))
                    ELSE [] END)) AS s
      FROM w
    ), sizes AS (
      SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
    ), idx AS (
      SELECT doc_id, s FROM sh
      WHERE s NOT IN (SELECT s FROM sh GROUP BY s HAVING count(*) > 100)
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM idx a JOIN idx b ON a.s = b.s AND a.doc_id < b.doc_id
    ), inter AS (
      SELECT c.id_a, c.id_b, count(*) AS inter
      FROM cand c
        JOIN sh a ON a.doc_id = c.id_a
        JOIN sh b ON b.doc_id = c.id_b AND b.s = a.s
      GROUP BY c.id_a, c.id_b
    ), scored AS (
      SELECT CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS j
      FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.35
    )
    SELECT CASE WHEN j >= 0.7 THEN 'high(>=0.7)'
                WHEN j >= 0.5 THEN 'mid(0.5-0.7)'
                ELSE 'low(0.35-0.5)' END AS band,
           count(*) AS n_pairs
    FROM scored GROUP BY band
    """,
)
def jaccard_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup threshold calibration: pair counts per similarity band
    over the exact-Jaccard pairs — the evidence for choosing the dedup
    cutoff (a cliff between bands = a safe threshold). Reuses the
    materialized exact-pair lot (free when `ngram_jaccard_dups` or
    `dedup_clusters_exact` already ran this session); band edges
    compare the SAME double values on both engines, so banding cannot
    disagree."""
    from logicash_etl_spark.queries.dedup import _exact_pairs

    pairs = _exact_pairs(spark, sf_dir)
    band = (
        F.when(F.col("jaccard") >= 0.7, "high(>=0.7)")
        .when(F.col("jaccard") >= 0.5, "mid(0.5-0.7)")
        .otherwise("low(0.35-0.5)")
    )
    return pairs.select(band.alias("band")).groupBy("band").agg(
        F.count("*").alias("n_pairs")
    )


@query(
    "media_phash_dups",
    oracle="""
    WITH u AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 10000000, text FROM documents WHERE doc_id % 25 = 0
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(0 AS INTEGER) AS hamming
    FROM u a JOIN u b ON a.text = b.text AND a.doc_id < b.doc_id
    """,
)
def media_phash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash media near-dup end-to-end: a lot with planted
    byte-identical re-uploads (every 25th doc re-packed under a new
    id — the at-least-once ingest model for media), dHash-64 per blob
    via Arrow-batched mapInPandas (operators/multimodal.phash_image),
    then pigeonhole-banded Hamming pairs — the SAME
    banded_hamming_pairs machinery SimHash text dedup uses, applied to
    the image modality. With the deterministic fake-decode kernel (no
    codec in this image) only byte-identical media collide, so the
    equal-bytes self-join IS the oracle (hamming 0; a random
    distinct-content pair lands within Hamming<=2 with p ~ 1e-16)."""
    from logicash_etl_spark.operators.dedup import banded_hamming_pairs
    from logicash_etl_spark.operators.multimodal import pack_media, phash_image

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    replay = docs.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
    )
    lot = docs.unionByName(replay)
    media = pack_media(
        lot.select("doc_id", F.encode("text", "utf-8").alias("blob")),
        "blob",
        "image/png",
    )
    # the oracle models byte-identity, which the fake grid guarantees.
    # Persisted: both sides of the banded Hamming join read sig, and
    # each re-read would hash the media again.
    sig = scoped_persist(phash_image(media))
    return banded_hamming_pairs(sig, id_col="id", sig_col="phash", max_hamming=2)


@query(
    "audio_chunk_inventory",
    oracle="""
    WITH pcm AS (
      SELECT doc_id,
             CAST(floor(octet_length(encode(text)) / 2) AS BIGINT)
               AS n_samples
      FROM documents
    )
    SELECT doc_id,
           CAST(ceil(CAST(n_samples AS DOUBLE) / 160) AS BIGINT) AS n_chunks,
           n_samples AS total_samples,
           CAST(n_samples - (ceil(CAST(n_samples AS DOUBLE) / 160) - 1) * 160
                AS BIGINT) AS last_chunk_samples
    FROM pcm WHERE n_samples > 0
    """,
)
def audio_chunk_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-modality plumbing end-to-end: clips (document bytes as
    16-bit mono PCM — no codec in this container, same stand-in
    convention as the image/video queries) packed into the media
    struct, fanned out by ``audio_chunk_plan`` into fixed 160-sample
    chunks (1 clip row -> k chunk rows, pure JVM arithmetic), then
    rolled back up per clip. The oracle re-derives chunk counts and
    the partial tail chunk from byte lengths — so the fan-out
    arithmetic (the thing that determines shuffle volume when the
    decoder kernel attaches) is driver-hash-checked."""
    from logicash_etl_spark.operators.multimodal import audio_chunk_plan, pack_media

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    clips = pack_media(
        docs.select("doc_id", F.encode("text", "utf-8").alias("blob")),
        "blob",
        "audio/pcm",
    )
    chunks = audio_chunk_plan(clips)  # 160-sample chunks: real fan-out on doc-sized clips
    return (
        chunks.groupBy(F.col("id").alias("doc_id"))
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum("n_samples").alias("total_samples"),
            F.expr("max_by(n_samples, chunk_idx)").alias("last_chunk_samples"),
        )
    )


@query(
    "bigram_surprisal_score",
    oracle=r"""
    WITH w AS (
      SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\s+'),
                                 x -> x <> '') AS ws
      FROM documents
    ), bg AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(ws) - 1),
                                   i -> ws[i] || ' ' || ws[i+1])) AS b
      FROM w WHERE len(ws) >= 2
    ), tok AS (
      SELECT doc_id, unnest(ws) AS word FROM w
    ), c1 AS (
      SELECT word, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY word
    ), c2 AS (
      SELECT b, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY b
    ), vocab AS (
      SELECT CAST(count(*) AS BIGINT) AS v FROM c1
    )
    SELECT g.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(SUM(-ln((CAST(c2.c AS DOUBLE) + 1)
                         / (c1.c + (SELECT v FROM vocab)))) / count(*), 6)
             AS mean_nll
    FROM bg g
      JOIN c2 ON c2.b = g.b
      JOIN c1 ON c1.word = string_split(g.b, ' ')[1]
    GROUP BY g.doc_id
    """,
)
def bigram_surprisal_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity proxy (the step past unigram_surprisal_
    score toward a real KenLM gate): per-doc mean negative log of
    P(w_i | w_{i-1}) = (c(bigram)+1) / (c(w_{i-1}) + V), add-one
    smoothed over the corpus vocabulary. Low = templated/boilerplate
    transitions, high = incoherent or rare text — the CCNet-style
    quality axis that unigram stats miss (a doc of common words in
    nonsense ORDER scores high here, not there).

    Plan: bigrams extracted from the token array by pure JVM
    transform (no window, no self-join), two mergeable count passes
    (bigram + unigram tables — model TRAINING is two groupBys), and
    a scoring join of the |vocab|-sized count tables against the
    token stream. The count tables are CORPUS-DERIVED and unbounded
    (Heaps' law — and the bigram table grows faster than the
    unigram), so they reach the join UNHINTED: AQE broadcasts them
    only while their runtime size allows and shuffles beyond the
    threshold, instead of a forced hint overriding the size check
    into a driver OOM. Only the single-row vocab-size frame is
    hinted; everything else is map-side except the two count
    shuffles keyed on the n-gram."""
    docs = scale_out(
        read_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    # ONE documents scan + ONE tokenize pass: the bigram stream (bg
    # feeds c2 AND the scoring join) and the unigram stream both
    # derive from this persisted token-array frame. c1 persists too:
    # it feeds the vocab-size agg AND the scoring join.
    w = scoped_persist(
        docs.select("doc_id", tokens(F.lower(F.col("text"))).alias("ws"))
    )
    bg = w.filter(F.size("ws") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(ws) - 1), "
                "i -> struct(element_at(ws, i) AS w1, "
                "concat(element_at(ws, i), ' ', element_at(ws, i+1)) AS b))"
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.w1").alias("w1"), F.col("p.b").alias("b"))
    tok = w.select("doc_id", F.explode("ws").alias("word"))
    c1 = scoped_persist(
        tok.groupBy("word").agg(F.count("*").cast("bigint").alias("c1"))
    )
    c2 = bg.groupBy("b").agg(F.count("*").cast("bigint").alias("c2"))
    v = c1.agg(F.count("*").cast("bigint").alias("v"))
    from logicash_etl_spark.operators.joins import broadcast_bounded

    scored = (
        bg.join(broadcast_bounded(c2, bounded=False), "b")
        .join(
            broadcast_bounded(
                c1.withColumnRenamed("word", "w1"), bounded=False
            ),
            "w1",
        )
        .crossJoin(broadcast_bounded(v, bounded=True))
    )
    nll = -F.log(
        (F.col("c2").cast("double") + 1) / (F.col("c1") + F.col("v"))
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_bigrams"),
        F.round(F.sum(nll) / F.count("*"), 6).alias("mean_nll"),
    )


@query(
    "flesch_readability_by_source",
    oracle="""
    WITH per_doc AS (
      SELECT source,
             CAST(len(regexp_extract_all(lower(text), '[a-z]+'))
                  AS BIGINT) AS words,
             CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+')))
                  AS BIGINT) AS sentences,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                  AS BIGINT) AS syllables
      FROM documents
    ),
    scored AS (
      SELECT source, words, sentences, syllables,
             CAST(floor(100.0 * (206.835
                                 - 1.015 * (CAST(words AS DOUBLE)
                                            / sentences)
                                 - 84.6 * (CAST(syllables AS DOUBLE)
                                           / words)) + 0.5)
                  AS BIGINT) AS f100
      FROM per_doc WHERE words >= 1
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(words) AS BIGINT) AS sum_words,
           CAST(SUM(sentences) AS BIGINT) AS sum_sentences,
           CAST(SUM(syllables) AS BIGINT) AS sum_syllables,
           CAST(SUM(f100) AS BIGINT) AS sum_flesch_x100,
           round(SUM(f100) * 1.0 / (100.0 * count(*)), 6)
             AS mean_flesch,
           CAST(SUM(CASE WHEN f100 >= 6000 THEN 1 ELSE 0 END)
                AS BIGINT) AS easy_docs
    FROM scored GROUP BY source
    """,
)
def flesch_readability_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per source (Flesch 1948) — the classic
    readability score 206.835 - 1.015*(words/sentence) -
    84.6*(syllables/word), the complexity axis the Gopher-style
    suite (`gopher_quality_suite`) doesn't measure: repetition and
    stop-word ratios catch BOILERPLATE, Flesch catches prose that is
    too dense or too telegraphic for the target register. Syllables
    use the standard cheap heuristic (maximal [aeiouy]+ runs —
    vowel-less tokens score 0); sentences are [.!?]+ runs floored at
    1 so headline-only docs don't divide by zero.

    Determinism: all three counts are exact integers from the SAME
    regex on both engines (probed: Java and RE2 agree on these
    single-class patterns); the per-doc score is ONE double
    expression over exact ints, quantized to an integer x100
    immediately — so the per-source SUM is an exact BIGINT
    (a raw double sum would be partition-order dependent) and the
    mean is a single double division at the edge.

    Scale: pure map-side scoring (three regex counts per doc, no
    tokenize-explode), one |sources|-group aggregate. The regexes are
    the cost — linear in corpus bytes, embarrassingly parallel."""
    docs = read_table(spark, sf_dir, "documents")
    words = F.expr("CAST(regexp_count(lower(text), '[a-z]+') AS BIGINT)")
    sentences = F.expr(
        "CAST(greatest(1, regexp_count(text, '[.!?]+')) AS BIGINT)"
    )
    syllables = F.expr(
        "CAST(regexp_count(lower(text), '[aeiouy]+') AS BIGINT)"
    )
    per_doc = docs.select(
        "source",
        words.alias("words"),
        sentences.alias("sentences"),
        syllables.alias("syllables"),
    ).filter(F.col("words") >= 1)
    flesch = (
        F.lit(206.835)
        - 1.015 * (F.col("words").cast("double") / F.col("sentences"))
        - 84.6 * (F.col("syllables").cast("double") / F.col("words"))
    )
    scored = per_doc.withColumn(
        "f100", F.floor(100.0 * flesch + 0.5).cast("bigint")
    )
    return scored.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("words").cast("bigint").alias("sum_words"),
        F.sum("sentences").cast("bigint").alias("sum_sentences"),
        F.sum("syllables").cast("bigint").alias("sum_syllables"),
        F.sum("f100").cast("bigint").alias("sum_flesch_x100"),
        F.round(
            F.sum("f100") * 1.0 / (100.0 * F.count("*")), 6
        ).alias("mean_flesch"),
        F.sum((F.col("f100") >= 6000).cast("int"))
        .cast("bigint")
        .alias("easy_docs"),
    )
