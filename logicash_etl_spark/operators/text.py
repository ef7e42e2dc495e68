"""Text-analysis operators over document tables.

Beyond-reference scope (SURVEY.md section 7 north star): the reference never
processes text, but a 100 TB training-data pipeline lives on these.
Everything here is built-in column expressions (JVM, whole-stage
codegen) — no Python UDFs in the hot path. Shapes:

- tokenization / token counting (whitespace + BPE-ish regex)
- quality scoring (length / punctuation / digit / stopword ratios)
- language ID (stopword-hit heuristic, argmax over languages)
- document fingerprinting (md5 content hash + min-shingle sketch)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# merge rules ``bpe_train`` learns per run
BPE_MERGES = 8

# Tiny per-language stopword marker sets for the n-gram/stopword
# language-ID heuristic. Word-boundary regexes keep the scoring
# O(len) per doc and JVM-side.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "is", "to"],
    "es": ["el", "la", "de", "que", "los"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
    "zh": ["的", "是", "了", "在", "我"],
}


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization -> array<string> (empty array for blank)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.trim(c), r"\s+"), lambda t: t != "")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column | str) -> Column:
    """BPE-flavored proxy: count word pieces + digits + punctuation
    runs (the usual ~chars/4 heuristic is too crude for mixed text).

    regexp_count of word/number/punct units — a cheap, deterministic
    stand-in for a real tokenizer (which would be a pandas UDF)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(r"[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\s]"))


def char_class_counts(text: Column | str) -> dict[str, Column]:
    """One pass per class, all JVM regexp_count."""
    c = F.col(text) if isinstance(text, str) else text
    return {
        "n_chars": F.length(c),
        "n_letters": F.regexp_count(c, F.lit(r"[A-Za-z]")),
        "n_digits": F.regexp_count(c, F.lit(r"[0-9]")),
        "n_punct": F.regexp_count(c, F.lit(r"[.,!?;:]")),
        "n_spaces": F.regexp_count(c, F.lit(r"\s")),
        "n_upper": F.regexp_count(c, F.lit(r"[A-Z]")),
    }


def quality_features(df: DataFrame) -> DataFrame:
    """Attach quality-scoring features of the ``text`` column: token
    count, mean token length, punctuation/digit ratios, stopword ratio
    (en) — the standard pre-training quality filters (C4/Gopher-style
    rules)."""
    cc = char_class_counts("text")
    toks = token_count("text")
    stop_hits = _marker_hits(F.col("text"), LANG_MARKERS["en"])
    n_chars = F.greatest(cc["n_chars"], F.lit(1))
    out = df.withColumn("n_tokens", toks)
    out = out.withColumn("n_chars_calc", cc["n_chars"])
    out = out.withColumn(
        "mean_token_len",
        F.when(toks > 0, (cc["n_chars"] - cc["n_spaces"]) / toks).otherwise(F.lit(0.0)),
    )
    out = out.withColumn("punct_ratio", cc["n_punct"] / n_chars)
    out = out.withColumn("digit_ratio", cc["n_digits"] / n_chars)
    out = out.withColumn(
        "stopword_ratio",
        F.when(toks > 0, stop_hits / toks).otherwise(F.lit(0.0)),
    )
    return out


def quality_flag(df: DataFrame) -> DataFrame:
    """Gopher-ish keep/drop flag from quality_features columns: at
    least 10 tokens, mean token length <= 12, digit ratio <= 0.3."""
    keep = (
        (F.col("n_tokens") >= 10)
        & (F.col("mean_token_len") <= 12.0)
        & (F.col("digit_ratio") <= 0.3)
    )
    return df.withColumn("quality_keep", keep)


def _marker_hits(c: Column, words: list[str]) -> Column:
    """Count occurrences of any marker word (word-boundary for latin,
    bare for CJK)."""
    parts = []
    for w in words:
        if w.isascii():
            parts.append(rf"\b{w}\b")
        else:
            parts.append(w)
    return F.regexp_count(F.lower(c), F.lit("(" + "|".join(parts) + ")"))


def lang_scores(text: Column | str) -> dict[str, Column]:
    c = F.col(text) if isinstance(text, str) else text
    return {lang: _marker_hits(c, words) for lang, words in LANG_MARKERS.items()}


def predict_lang(df: DataFrame) -> DataFrame:
    """``lang_pred`` = argmax over the language marker scores of
    ``text``; deterministic tiebreak by language code order; 'und'
    when no marker hits at all."""
    scores = lang_scores("text")
    # build argmax as chained CASE WHEN over a greatest() pivot
    langs = sorted(scores)
    greatest = F.greatest(*[scores[l] for l in langs])
    expr = F.lit("und")
    for l in reversed(langs):
        expr = F.when((greatest > 0) & (scores[l] == greatest), F.lit(l)).otherwise(expr)
    return df.withColumn("lang_pred", expr)


# ---------------------------------------------------------------------------
# Fingerprinting
# ---------------------------------------------------------------------------

def normalize_text(c: Column | str) -> Column:
    """Canonical form for content hashing: lowercase, collapse
    whitespace, strip."""
    col = F.col(c) if isinstance(c, str) else c
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def content_hash(c: Column | str) -> Column:
    """Exact-dup fingerprint: md5 of normalized text (md5 so external
    systems can reproduce it; xxhash64 is Spark-private)."""
    return F.md5(normalize_text(c))


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Array of n-word shingles (space-joined); the unit for Jaccard /
    MinHash. Pure JVM, no explode until the caller wants one.

    The token array is let-bound by transforming over a one-element
    array: the lambda variable ``t`` holds the split result evaluated
    ONCE per row. Referencing ``tokens(text)`` directly inside the
    per-shingle lambda re-evaluates the regex split for every shingle
    (O(words^2) text scanning per document — measured 2.2x slower on
    the sf0.1 corpus)."""
    return F.flatten(
        F.transform(
            F.array(tokens(text)),
            lambda t: F.when(
                F.size(t) >= n,
                F.transform(
                    F.sequence(F.lit(0), F.size(t) - n),
                    lambda i: F.array_join(F.slice(t, i + 1, n), " "),
                ),
            ).otherwise(F.array().cast("array<string>")),
        )
    )


def bpe_train(
    word_counts: DataFrame,
    driver_vocab_threshold: int = 2_000_000,
) -> list[tuple[str, str, str, int]]:
    """Byte-pair-encoding merge training (``BPE_MERGES`` merges; the
    catalog's unrolled-CTE oracles in queries/pipeline_ops.py read the
    same constant), Spark-first: the corpus is
    touched ONCE (the ``word_counts`` aggregate of ``(word, n)`` rows
    the caller builds);
    every merge iteration then runs on the VOCABULARY frame — pair
    counts are weighted by word frequency, so at 100 TB the iteration
    cost is bounded by distinct words, not corpus bytes (the shape
    real tokenizer training uses).

    Per round: adjacent symbol pairs via ``zip_with`` on the symbol
    array and its shifted self (row-local), one map-side-combinable
    groupBy(pair) weighted sum, a deterministic top-1
    (count desc, pair asc — TakeOrderedAndProject, never a sort), and
    a greedy left-to-right fold (``aggregate``) that rewrites each
    word's symbols under the new merge — all JVM expressions, the
    driver sees ONE row per round.

    Returns [(left, right, merged, weighted_count)] in merge order.

    Adaptive (the union-find / k-means driver-sample pattern): when
    the vocabulary fits ``driver_vocab_threshold`` rows it collects
    ONCE (Arrow) and the merge loop runs in pure python — identical
    rules, none of the per-round job overhead. Above the threshold
    the distributed per-round loop runs; both paths are
    equality-tested against each other.
    """
    # bounded probe, not .count(): counting would run the caller's
    # (typically unpersisted) aggregate end-to-end a THIRD time just to
    # pick a path. limit(threshold+1) both decides the path and — when
    # small — already IS the data; the driver never holds more than
    # threshold+1 rows either way.
    probe = (
        word_counts.select(F.col("word").alias("w"), "n")
        .limit(driver_vocab_threshold + 1)
        .toPandas()
    )
    if len(probe) <= driver_vocab_threshold:
        pdf = probe
        wc = dict(zip(pdf["w"], pdf["n"].astype(int)))
        vocab = {w: list(w) for w in wc}
        merges: list[tuple[str, str, str, int]] = []
        for _ in range(BPE_MERGES):
            counts: dict[tuple[str, str], int] = {}
            for w, s in vocab.items():
                cnt = wc[w]
                for a, b in zip(s, s[1:]):
                    counts[(a, b)] = counts.get((a, b), 0) + cnt
            if not counts:
                break
            (l, r), cnt = min(
                counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            merged = l + r
            merges.append((l, r, merged, int(cnt)))
            for w, s in vocab.items():
                out: list[str] = []
                for x in s:
                    if out and out[-1] == l and x == r:
                        out[-1] = merged
                    else:
                        out.append(x)
                vocab[w] = out
        return merges

    syms = word_counts.select(
        F.col("n").alias("__n"),
        F.split(F.col("word"), "").alias("__s"),
    ).persist()
    merges: list[tuple[str, str, str, int]] = []
    try:
        for _ in range(BPE_MERGES):
            pairs = syms.select(
                "__n",
                F.explode(
                    F.when(
                        F.size("__s") >= 2,
                        F.zip_with(
                            F.slice("__s", 1, F.size("__s") - 1),
                            F.slice("__s", 2, F.size("__s") - 1),
                            lambda a, b: F.struct(
                                a.alias("l"), b.alias("r")
                            ),
                        ),
                    ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))
                ).alias("p"),
            )
            top = (
                pairs.groupBy("p")
                .agg(F.sum("__n").alias("cnt"))
                .orderBy(F.col("cnt").desc(), F.col("p.l"), F.col("p.r"))
                .limit(1)
                .collect()
            )
            if not top:
                break
            l, r, cnt = top[0]["p"]["l"], top[0]["p"]["r"], int(top[0]["cnt"])
            merged = l + r
            merges.append((l, r, merged, cnt))
            # greedy left-to-right rewrite: fold each symbol into the
            # accumulator, merging when the tail matches (l, r); a
            # merged token is not re-merged in the same round (BPE
            # contract for runs like "aaa")
            new_s = F.aggregate(
                "__s",
                F.array().cast("array<string>"),
                lambda acc, x: F.when(
                    (F.size(acc) > 0)
                    & (F.element_at(acc, -1) == F.lit(l))
                    & (x == F.lit(r)),
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
                    ),
                ).otherwise(F.concat(acc, F.array(x))),
            )
            nxt = syms.select("__n", new_s.alias("__s")).persist()
            nxt.count()  # materialize before dropping the parent
            syms.unpersist()
            syms = nxt
    finally:
        syms.unpersist()
    return merges


def _bpe_wrap(word: Column | str) -> Column:
    r"""Symbol-list-as-string encoding for merge application: each
    symbol wrapped in ``\n`` and concatenated, so ``[a, b]`` becomes
    ``\na\n\nb\n``. Symbols can never contain ``\n`` (tokens are
    whitespace-split), which makes the encoding unambiguous and lets a
    merge apply as ONE plain non-overlapping ``replace`` — which scans
    left to right exactly like greedy BPE (``aaa`` + merge(a,a) ->
    ``[aa, a]``, never ``[a, aa]`` or a double merge)."""
    c = F.col(word) if isinstance(word, str) else word
    return F.concat(F.lit("\n"), F.array_join(F.split(c, ""), "\n\n"), F.lit("\n"))


def bpe_encode(
    word: Column | str, merges: list[tuple[str, str, str, int]]
) -> Column:
    r"""Apply a trained merge table (``bpe_train`` output, in merge
    order) to a word -> ``array<string>`` of BPE symbols.

    Spark-first shape: the merge chain compiles to ``len(merges)``
    chained ``replace`` expressions over the wrapped symbol string —
    all JVM literals inside whole-stage codegen, no UDF, no per-row
    Python. Intended use at scale: encode the DISTINCT-WORD frame
    (vocabulary-bounded, like training) and join symbol counts back to
    the corpus, never encode per occurrence.

    The same replace chain is expressible verbatim in SQL
    (``replace(s, '\n'||l||'\n\n'||r||'\n', '\n'||l||r||'\n')``),
    which is what gives the BPE queries their DuckDB oracles."""
    s = _bpe_wrap(word)
    for l, r, m, _ in merges:
        s = F.replace(s, F.lit(f"\n{l}\n\n{r}\n"), F.lit(f"\n{m}\n"))
    return F.split(F.btrim(s, F.lit("\n")), "\n\n")
