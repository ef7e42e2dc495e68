"""Round-14 optimization equivalence pins.

Each test pins an optimization that changed an operator's internals
this round: the optimized path must decide/produce EXACTLY what the
retired (or bypassed) path did.
"""

from __future__ import annotations

import os
import shutil

from logicash_etl_spark.sources.lot_datasource import (
    lot_stream_quiet,
    register_lot_source,
)


def _drain(spark, root, ck, out):
    q = (
        spark.readStream.format("logicash_lot")
        .schema("id long")
        .option("path", root)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_lot_stream_quiet_mirrors_reader_decision(spark, tmp_path):
    """The quiet-period detector must say True exactly when a stream
    restart would plan one empty no-new-lots micro-batch, and False on
    every divergence the real reader acts on (new lot, mutated stamp,
    vanished consumed lot, uncommitted batch) — so the fast path can
    never skip a drain or mask a contract violation."""
    register_lot_source(spark)
    root = str(tmp_path / "lots")
    ck, out = str(tmp_path / "ck"), str(tmp_path / "out")
    spark.range(5).write.format("logicash_lot").mode("append").option(
        "path", f"{root}/lot_a"
    ).save()

    # before any drain: no checkpoint logs -> not quiet
    assert not lot_stream_quiet(ck, root)

    _drain(spark, root, ck, out)
    assert lot_stream_quiet(ck, root)

    # a new READY lot is new data -> not quiet; the stream picks it up
    # and the detector flips back to quiet afterwards
    spark.range(5, 8).write.format("logicash_lot").mode("append").option(
        "path", f"{root}/lot_b"
    ).save()
    assert not lot_stream_quiet(ck, root)
    _drain(spark, root, ck, out)
    assert lot_stream_quiet(ck, root)
    got = sorted(r.id for r in spark.read.parquet(out).collect())
    assert got == list(range(8))

    # mutated consumed lot (stamp changed) -> not quiet (stream raises)
    flag = f"{root}/lot_a/_READY"
    stamp = open(flag).read()
    with open(flag, "w") as fh:
        fh.write("rows=999 gen=deadbeef")
    assert not lot_stream_quiet(ck, root)
    with open(flag, "w") as fh:
        fh.write(stamp)
    # restoring bytes does NOT restore the stamp: mtime_ns moved
    assert not lot_stream_quiet(ck, root)

    # vanished consumed lot -> not quiet (stream raises)
    saved = str(tmp_path / "saved_lot_b")
    shutil.move(f"{root}/lot_b", saved)
    assert not lot_stream_quiet(ck, root)
    shutil.move(saved, f"{root}/lot_b")

    # uncommitted latest batch (crash between offset write and commit)
    # -> not quiet (the restart must replay the batch)
    commits = sorted(
        f for f in os.listdir(f"{ck}/commits") if f.lstrip("-").isdigit()
    )
    latest = f"{ck}/commits/{commits[-1]}"
    saved_commit = str(tmp_path / "saved_commit")
    shutil.move(latest, saved_commit)
    assert not lot_stream_quiet(ck, root)
    shutil.move(saved_commit, latest)


def test_grouped_prefix_peak_matches_prefix_sum_then_max(spark):
    """grouped_prefix_peak must equal grouped_prefix_sum(inclusive)
    followed by groupBy(max) on every group — including negative
    deltas (the sweep-line's -1 boundaries), ties on the bucket key,
    NULL values (skipped by both forms), single-row groups, and a
    bucket count smaller than the group's distinct keys."""
    from pyspark.sql import functions as F

    from logicash_etl_spark.operators.partitioning import (
        grouped_prefix_peak,
        grouped_prefix_sum,
    )

    import random

    rnd = random.Random(14)
    rows = []
    tie = 0
    for g in ("a", "b", "c", "single"):
        n = 1 if g == "single" else 200
        for i in range(n):
            rows.append(
                (
                    g,
                    rnd.randrange(0, 50),  # bucket key with many ties
                    rnd.choice([None, -3, -1, -1, 1, 1, 2, 5]),
                    tie,  # deterministic tiebreak, assigned in Python
                )
            )
            tie += 1
    df = spark.createDataFrame(rows, "g string, k int, v int, __tie long")
    order = [F.col("k").asc(), F.col("__tie").asc()]
    expected = (
        grouped_prefix_sum(
            df, "g", "k", order, "v", out_col="__c", buckets=8, inclusive=True
        )
        .groupBy("g")
        .agg(F.max("__c").alias("peak"))
    )
    got = grouped_prefix_peak(df, "g", "k", order, "v", buckets=8)
    exp = {r["g"]: r["peak"] for r in expected.collect()}
    act = {r["g"]: r["__peak"] for r in got.collect()}
    assert act == exp


def test_streaming_incremental_dedup_warm_fastpath_identical(spark, sf_smoke):
    """The warm quiet-period fast path (sink readback without a stream
    restart) must return byte-identical verdicts to the cold drain —
    and a second warm call must stay identical too (the memoized drain
    state is not consumed by the fast path)."""
    from logicash_etl_spark.queries import QUERIES
    from logicash_etl_spark.queries import streaming as _sq

    # fresh drain state for this test regardless of what ran before
    _sq._DRAIN_MEMO.pop(("incremental_dedup", os.path.abspath(sf_smoke)), None)
    cold = sorted(
        map(tuple, QUERIES["streaming_incremental_dedup"](spark, sf_smoke).collect())
    )
    state = _sq._drain_state("incremental_dedup", sf_smoke, "lq_inc_stream_")
    assert state["cold"] is False  # second _drain_state call is warm
    assert lot_stream_quiet(f"{state['root']}/ckpt", f"{state['root']}/lots")
    warm1 = sorted(
        map(tuple, QUERIES["streaming_incremental_dedup"](spark, sf_smoke).collect())
    )
    warm2 = sorted(
        map(tuple, QUERIES["streaming_incremental_dedup"](spark, sf_smoke).collect())
    )
    assert warm1 == cold
    assert warm2 == cold


def test_kmv_membership_flags_match_filter_distinct_join(spark):
    """kmv_set_overlap's one-scan membership-flag frame must decide
    set a, set b, and the three exact counts exactly as the retired
    two-scan filter+distinct shape and its a-join-b intersection —
    including NULL order keys (never join-matched, but counted in the
    per-set counts, as count(*) over a DISTINCT set counts its NULL
    row), orders whose lines match both / one / neither filter, and
    an input matching nothing (sum-over-empty must still report 0)."""
    from pyspark.sql import functions as F

    rows = [
        (1, "R", 10.0),  # order 1: set a via this line ...
        (1, "N", 45.0),  # ... set b via this one -> in the intersection
        (2, "R", 50.0),  # both sets via a single line
        (3, "N", 41.0),  # b only
        (4, "R", 5.0),   # a only
        (5, "N", 1.0),   # neither
        (None, "R", 99.0),  # NULL key lands in both sets' counts ...
        (None, "N", 44.0),  # ... but never in the join intersection
    ]
    li = spark.createDataFrame(
        rows, "l_orderkey long, l_returnflag string, l_quantity double"
    )
    pa = F.col("l_returnflag") == "R"
    pb = F.col("l_quantity") >= 40

    def old_shape(src):
        a = src.filter(pa).select(F.col("l_orderkey").alias("v")).distinct()
        b = src.filter(pb).select(F.col("l_orderkey").alias("v")).distinct()
        return (
            {r.v for r in a.collect()},
            {r.v for r in b.collect()},
            a.count(),
            b.count(),
            a.join(b, "v").count(),
        )

    def new_shape(src):
        base = (
            src.filter(pa | pb)
            .select(
                F.col("l_orderkey").alias("v"), pa.alias("pa"), pb.alias("pb")
            )
            .groupBy("v")
            .agg(F.max("pa").alias("in_a"), F.max("pb").alias("in_b"))
        )
        ex = base.agg(
            F.coalesce(F.sum(F.col("in_a").cast("long")), F.lit(0))
            .cast("bigint")
            .alias("exact_a"),
            F.coalesce(F.sum(F.col("in_b").cast("long")), F.lit(0))
            .cast("bigint")
            .alias("exact_b"),
            F.coalesce(
                F.sum(
                    (
                        F.col("in_a") & F.col("in_b") & F.col("v").isNotNull()
                    ).cast("long")
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("exact_inter"),
        ).collect()[0]
        return (
            {r.v for r in base.filter(F.col("in_a")).select("v").collect()},
            {r.v for r in base.filter(F.col("in_b")).select("v").collect()},
            ex.exact_a,
            ex.exact_b,
            ex.exact_inter,
        )

    assert new_shape(li) == old_shape(li)
    assert old_shape(li)[4] == 2  # the fixture exercises a real overlap

    empty_match = li.filter(F.col("l_quantity") < 0)
    assert new_shape(empty_match) == old_shape(empty_match)
    assert new_shape(empty_match)[2:] == (0, 0, 0)



def test_pq_encode_arrow_matches_retired_expression_fold(spark):
    """pq_encode's numpy mapInArrow argmin must produce EXACTLY the
    codes of the retired literal-codebook expression fold on every
    well-formed row (same IEEE accumulation order, same first-minimum
    tie break), NULL codes on NULL vectors like the fold did, a NULL
    code in exactly the subspace holding a NULL element (the fold's
    answer too), and all-NULL codes on wrong-length vectors (the
    fixed-dim contract)."""
    import random

    from pyspark.sql import functions as F

    from logicash_etl_spark.operators.similarity import (
        pq_encode,
        pq_train_codebooks,
    )

    def _d(x):
        return f"CAST('{x!r}' AS DOUBLE)"

    def _book_sql(book):
        return (
            "array("
            + ",".join(
                "array(" + ",".join(_d(c) for c in row) + ")" for row in book
            )
            + ")"
        )

    def fold_encode(vectors, books, id_col="vec_id", vec_col="embedding"):
        dsub = len(books[0][0])
        m = len(books)
        sq = [
            f"transform({_book_sql(book)}, c -> "
            f"aggregate(zip_with(slice(__pqv,{s * dsub + 1},{dsub}), c, "
            "(a,b) -> (a-b)*(a-b)), 0D, (acc,x) -> acc + x))"
            for s, book in enumerate(books)
        ]
        staged = vectors.select(
            F.col(id_col), F.col(vec_col).cast("array<double>").alias("__pqv")
        ).select(
            id_col, *[F.expr(e).alias(f"__pqd{s}") for s, e in enumerate(sq)]
        )
        return staged.select(
            id_col,
            *[
                F.expr(
                    f"CAST(array_position(__pqd{s}, array_min(__pqd{s})) - 1"
                    " AS INT)"
                ).alias(f"code_{s}")
                for s in range(m)
            ],
        )

    rng = random.Random(14)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(120)
    ]
    # exact-duplicate vectors exercise tie-adjacent distances
    rows += [(200 + i, list(rows[i][1])) for i in range(5)]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    books = pq_train_codebooks(emb)

    new = {
        r.vec_id: tuple(r[f"code_{s}"] for s in range(8))
        for r in pq_encode(emb, books).collect()
    }
    old = {
        r.vec_id: tuple(r[f"code_{s}"] for s in range(8))
        for r in fold_encode(emb, books).collect()
    }
    assert new == old

    # NULL vector -> NULL codes (both paths); NULL element -> NULL code
    # in its subspace only (both paths); short vector -> all-NULL codes
    # on the arrow path (pinned contract)
    weird = spark.createDataFrame(
        [(1, None), (2, [0.0] * 64), (3, [1.0, 2.0]), (4, [0.5] * 9 + [None] + [0.5] * 54)],
        "vec_id int, embedding array<double>",
    )
    got = {
        r.vec_id: tuple(r[f"code_{s}"] for s in range(8))
        for r in pq_encode(weird, books).collect()
    }
    assert got[1] == (None,) * 8
    assert got[3] == (None,) * 8
    assert None not in got[2]
    old_null = {
        r.vec_id: tuple(r[f"code_{s}"] for s in range(8))
        for r in fold_encode(
            weird.filter(F.col("vec_id") != 3), books
        ).collect()
    }
    assert old_null[1] == (None,) * 8
    assert got[2] == old_null[2]
    assert got[4][1] is None and None not in (got[4][0], *got[4][2:])
    assert got[4] == old_null[4]


def test_funnel_ingest_row_from_quality_pass_matches_feat_scan(spark):
    """curation_funnel_report's stage-1 row now aggregates the
    quality-features frame instead of running a second token_count
    scan, and stage 2 filters a persisted frame whose text is NULLed
    for gate-dropped docs. Both must match the retired shape exactly —
    including NULL text, empty text, and whitespace-only text."""
    from pyspark.sql import functions as F

    from logicash_etl_spark.operators.text import (
        quality_features,
        quality_flag,
        token_count,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, None),
        (3, ""),
        (4, "   "),
        (5, "0123456789 0123456789 0123456789"),  # digit-heavy: dropped
        (6, "one two three four five six seven eight nine ten eleven"),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")

    # retired shape
    feat_old = docs.select(token_count("text").cast("bigint").alias("n_tokens"))
    s1_old = feat_old.agg(
        F.count("*").alias("docs_out"), F.sum("n_tokens").alias("tokens_out")
    ).collect()[0]
    q_old = (
        quality_flag(quality_features(docs))
        .filter(F.col("quality_keep"))
        .select(
            "doc_id", "text", F.col("n_tokens").cast("bigint").alias("n_tokens")
        )
    )

    # r14 shape
    qa = quality_flag(quality_features(docs)).select(
        "doc_id",
        F.when(F.col("quality_keep"), F.col("text")).alias("text"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        "quality_keep",
    )
    s1_new = qa.agg(
        F.count("*").alias("docs_out"), F.sum("n_tokens").alias("tokens_out")
    ).collect()[0]
    q_new = qa.filter(F.col("quality_keep")).select("doc_id", "text", "n_tokens")

    assert tuple(s1_new) == tuple(s1_old)
    assert sorted(map(tuple, q_new.collect())) == sorted(
        map(tuple, q_old.collect())
    )
    assert q_new.count() > 0  # the gate keeps something, so the pin bites
