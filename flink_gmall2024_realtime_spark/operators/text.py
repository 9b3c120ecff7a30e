"""Text analysis operators for training-data pipelines.

Language-ID, quality scoring, token counting, and fingerprinting over a
``documents(doc_id, text, ...)`` table. All pure Catalyst expressions
(whole-stage codegen, no Python in the hot path) and all deterministic, so
every one has an exact DuckDB oracle. At 100 TB these are embarrassingly
parallel map-side transforms — no shuffle at all.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import md5_long, normalize_text, tokenize

# Tiny per-language stopword marker lists (n-gram-heuristic language ID).
# Real pipelines plug in fastText/cld3 via a Pandas UDF behind the same
# column contract; the heuristic keeps the operator dependency-free and
# oracle-checkable.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is"),
    "es": ("el", "la", "de", "que"),
    "de": ("der", "die", "und", "ist"),
    "fr": ("le", "la", "et", "est"),
    "zh": ("的", "是", "了", "在"),
}

STOPWORDS = ("the", "a", "of", "and", "is", "in", "to")


def _split_tokens(text: Column) -> Column:
    """Whitespace token array via codegen'd split-of-trimmed (no empty
    tokens except the single "" a fully-blank input produces — callers that
    count tokens guard that case; callers that match tokens don't need to,
    "" never equals a marker). Equivalent output to ``functions.tokenize``
    but with no higher-order lambda: Spark evaluates HOFs interpreted per
    element, which dominated the map-side text features."""
    return F.split(F.trim(text), r"\s+")


def token_count(text: Column) -> Column:
    """Whitespace token count (semantics of ``size(tokenize(text))``,
    codegen form)."""
    return F.when(F.length(F.trim(text)) == 0, F.lit(0)).otherwise(
        F.size(_split_tokens(text))
    )


def char_count(text: Column) -> Column:
    return F.length(text)


def marker_hits(text: Column, markers: tuple[str, ...]) -> Column:
    """Count of tokens exactly equal to any marker, as ONE ``regexp_count``
    whose token boundaries are the same ``\\s``/string-edge split
    ``_split_tokens`` uses — a token matches iff it is a maximal non-space
    run equal to a marker, so this is exactly per-token equality. r16: the
    prior per-marker ``size(a) - size(array_remove(a, m))`` chain copied
    the token array once per marker (7x in quality_features, 20x across
    lang_id's languages); one regex scan over the text measured 0.86x on
    text_quality with bit-identical output at all 3 SFs. (The earlier
    lambda-filter formulation stays rejected: Spark runs HOF lambdas
    interpreted per token.)

    No markers count 0 hits. A marker that is empty or contains whitespace
    can never equal a token, yet its regex would still match, so it raises
    ``ValueError``."""
    import re as _re

    if not markers:
        return F.lit(0)
    bad = [m for m in markers if not m or _re.search(r"\s", m)]
    if bad:
        raise ValueError(f"markers must be single non-empty tokens: {bad!r}")
    alt = "|".join(_re.escape(m) for m in markers)
    pat = r"(?:(?<=\s)|^)(?:" + alt + r")(?:(?=\s)|$)"
    return F.regexp_count(F.lower(text), F.lit(pat))


def lang_id(text: Column) -> Column:
    """Heuristic language ID: the language whose marker tokens appear most,
    ties broken by language code order; 'und' when nothing matches."""
    scores = [(lang, marker_hits(text, ms)) for lang, ms in sorted(LANG_MARKERS.items())]
    best_score = F.greatest(*[s for _, s in scores])
    out = F.lit("und")
    for lang, s in reversed(scores):
        out = F.when((best_score > 0) & (s == best_score), F.lit(lang)).otherwise(out)
    return out


def quality_features(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Quality-scoring features: length, token count, mean token length,
    punctuation ratio, stopword ratio, alpha ratio — rounded to 6 dp.

    The classic heuristic-filter feature set (C4/Gopher-style length and
    symbol ratios) as one map-side projection."""
    t = F.col(text_col)
    n_tok_i = token_count(t)
    n_tok = n_tok_i.cast("double")
    n_chars = F.length(t).cast("double")
    stop_hits = marker_hits(t, STOPWORDS).cast("double")
    return docs.select(
        F.col(id_col),
        F.length(t).alias("n_chars"),
        n_tok_i.alias("n_tokens"),
        F.round(n_chars / F.greatest(n_tok, F.lit(1.0)), 6).alias("chars_per_token"),
        F.round(
            (n_chars - F.length(F.regexp_replace(t, r"[^\w\s]", ""))) / F.greatest(n_chars, F.lit(1.0)), 6
        ).alias("punct_ratio"),
        F.round(stop_hits / F.greatest(n_tok, F.lit(1.0)), 6).alias("stopword_ratio"),
        F.round(
            F.length(F.regexp_replace(t, r"[^A-Za-z]", "")) / F.greatest(n_chars, F.lit(1.0)), 6
        ).alias("alpha_ratio"),
    )


def fingerprint(text: Column) -> Column:
    """Document fingerprint: 60-bit hash of the whitespace/case-normalized
    text — the cheap first-pass identity for dedup and provenance joins."""
    return md5_long(normalize_text(text))


# BPE-ish pre-tokenization: letter runs, single digits, single punctuation —
# the shape of GPT-style pre-tokenizers, as one RE2/Java-compatible pattern
# (identical semantics in Spark and DuckDB regexp_extract_all).
BPE_ISH_RE = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def bpe_ish_token_count(text: Column) -> Column:
    """Token count under the BPE-ish pre-tokenizer (vs whitespace count:
    splits punctuation and digit runs the way subword tokenizers do)."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_RE), F.lit(0)))


def _bpe_ntokens(word: str, ranks: dict, cache: dict) -> int:
    """Exact BPE segment count for one pre-token under the frozen merge
    table: start from characters, repeatedly merge the FIRST occurrence of
    the minimum-rank adjacent pair (ties impossible: ranks are unique)
    until no adjacent pair is in the table — the segmentation spec
    ``functions/bpe_merges.py`` pins for both the engine and the SQL
    oracle. <= len(word)-1 steps (each merge drops one token)."""
    n = cache.get(word)
    if n is not None:
        return n
    toks = list(word)
    while len(toks) > 1:
        best_j = best_r = None
        for j in range(len(toks) - 1):
            r = ranks.get((toks[j], toks[j + 1]))
            if r is not None and (best_r is None or r < best_r):
                best_r, best_j = r, j
        if best_j is None:
            break
        toks[best_j : best_j + 2] = [toks[best_j] + toks[best_j + 1]]
    cache[word] = len(toks)
    return len(toks)


def bpe_exact_token_count(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """EXACT BPE token counting with the vendored frozen merge table
    (VERDICT r7 #7): pre-tokenize with ``BPE_ISH_RE`` (regex stays
    JVM-side so only (id, pretoken-array) reaches Python), then count BPE
    segments per pre-token in an Arrow-batched pass with a per-batch
    word -> count memo — real corpora repeat words heavily, so the merge
    loop runs once per DISTINCT word per batch, not once per occurrence.
    Token counts are what packing/chunking/mix reports denominate in;
    the ish-count stays available as the cheap all-JVM upper bound.

    Returns (id, n_pretokens, n_tokens_bpe). Scale shape: one stateless
    projection — no shuffle, linear, trivially partition-parallel."""
    import pandas as pd

    from ..functions.bpe_merges import RANKS

    pre = docs.select(
        F.col(id_col),
        F.regexp_extract_all(
            F.coalesce(F.col(text_col), F.lit("")), F.lit(BPE_ISH_RE), F.lit(0)
        ).alias("_pt"),
    )

    def batches(it):
        for pdf in it:
            cache: dict = {}
            n_pre, n_bpe = [], []
            for toks in pdf["_pt"]:
                total = 0
                for w in toks:
                    total += _bpe_ntokens(w, RANKS, cache)
                n_pre.append(len(toks))
                n_bpe.append(total)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_pretokens": pd.array(n_pre, dtype="int32"),
                    "n_tokens_bpe": pd.array(n_bpe, dtype="int64"),
                }
            )

    return pre.mapInPandas(
        batches, schema=f"{id_col} long, n_pretokens int, n_tokens_bpe long"
    )


def winnow_fingerprints(docs: DataFrame, n: int = 3, mod: int = 8,
                        text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Winnowing-style selected fingerprints: hash every n-gram shingle, keep
    hashes ≡ 0 (mod ``mod``) — the mod-sampling variant of the winnowing
    scheme (Schleimer et al., SIGMOD'03). Gives an ~1/mod-size fingerprint
    set per document whose selection is content-defined (stable under
    insertions elsewhere in the doc), the property plagiarism/overlap
    detection needs. Output: (doc_id, fp) rows."""
    from .dedup import _doc_shingles

    sh = _doc_shingles(docs, text_col, id_col, n)
    return (
        sh.withColumn("fp", md5_long(F.col("shingle"), hex_chars=12))
        .filter(F.col("fp") % mod == 0)
        .select("doc_id", "fp")
        .distinct()
    )


def repetition_features(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Repetition metrics (Gopher-style repetition filters): fraction of the
    doc covered by the most frequent token / bigram, and distinct-token
    ratio. High values flag boilerplate and degenerate generations.

    One explode + two aggregations; bigrams via window-lead (codegen path).
    Output: (doc_id, top_token_ratio, top_bigram_ratio, distinct_token_ratio),
    6 dp. Single-token docs get bigram ratio 0."""
    from pyspark.sql import Window

    from ..functions import TOKEN_SPLIT_RE

    toks = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(F.split(F.trim(F.col(text_col)), TOKEN_SPLIT_RE)).alias("pos", "tok"),
        )
        .filter(F.col("tok") != "")
    )
    tok_counts = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    tok_stats = tok_counts.groupBy("doc_id").agg(
        F.max("c").alias("mx"),
        F.sum("c").alias("tot"),
        F.count(F.lit(1)).alias("dct"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    bigrams = (
        toks.withColumn("nxt", F.lead("tok").over(w))
        .filter(F.col("nxt").isNotNull())
        .select("doc_id", F.concat_ws(" ", "tok", "nxt").alias("bg"))
    )
    bg_counts = bigrams.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("c"))
    bg_stats = bg_counts.groupBy("doc_id").agg(F.max("c").alias("bmx"), F.sum("c").alias("btot"))
    return (
        tok_stats.join(bg_stats, "doc_id", "left")
        .select(
            "doc_id",
            F.round(F.col("mx") / F.col("tot"), 6).alias("top_token_ratio"),
            F.round(F.coalesce(F.col("bmx") / F.col("btot"), F.lit(0.0)), 6).alias("top_bigram_ratio"),
            F.round(F.col("dct") / F.col("tot"), 6).alias("distinct_token_ratio"),
        )
    )


# PII scrubbing patterns — deliberately simple character-class regexes so the
# semantics are identical in Java (Spark) and RE2 (DuckDB) engines.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\+?[0-9][0-9()\- ]{7,}[0-9]", "<PHONE>"),
    (r"[0-9]{5,}", "<NUM>"),
)


def scrub_pii(col: Column) -> Column:
    """Replace email / phone-shaped / long-digit-run substrings with typed
    placeholder tokens — the standard pre-training scrub pass. Order matters
    (emails contain digits; phones contain digit runs)."""
    out = col
    for pattern, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, repl)
    return out


def tfidf_topk(
    docs: DataFrame, k: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Top-k characteristic terms per document by tf-idf.

    idf is the *rational* form ``(N + 1) / (df + 1)`` rather than its log:
    multiplication and division are exactly-rounded IEEE ops, so the scores
    are bit-identical on any engine, while ``ln`` differs across libm
    implementations in the last ulp (log is monotone, so the top-k ranking
    is identical either way — a consumer wanting log-scaled scores applies
    it to the output).

    Plan shape at scale: explode -> (doc, term) count (one shuffle with
    map-side combine) -> df per term (second shuffle of the much smaller
    tf frame) -> one-row corpus count broadcast -> per-doc ranking window
    partitioned by doc (third shuffle). Output:
    (doc_id, term, score, rank)."""
    from pyspark.sql import Window

    toks = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(tokenize(F.col(text_col))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    raw = (
        tf.join(df_, "term")
        .join(F.broadcast(n))  # one-row cross: corpus size rides along
        .withColumn("raw_score", F.col("tf") * (F.col("n_docs") + 1) / (F.col("df") + 1))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("raw_score").desc(), F.col("term"))
    return (
        raw.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", F.round("raw_score", 6).alias("score"), "rank")
    )


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Fixed-size token chunking with overlap — the preprocessing step that
    turns raw documents into training-window-sized pieces.  Chunk ``i``
    covers tokens ``[i*stride, i*stride + chunk_tokens)`` with
    ``stride = chunk_tokens - overlap``; the last chunk may be short, and a
    document shorter than one chunk yields exactly one chunk.

    Entirely codegen: tokenize -> ``sequence`` of chunk starts ->
    ``posexplode`` -> ``slice``/``array_join``.  Shuffle-free (a per-row
    explode), so it streams map-side at any corpus size."""
    stride = chunk_tokens - overlap
    toks = F.filter(F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: t != F.lit(""))
    n = F.size(toks)
    # number of chunks: 1 + ceil(max(0, n - chunk_tokens) / stride)
    extra = F.greatest(n - F.lit(chunk_tokens), F.lit(0))
    n_chunks = F.lit(1) + F.ceil(extra / F.lit(stride)).cast("int")
    return (
        docs.select(id_col, toks.alias("_toks"), n.alias("n_tokens"), n_chunks.alias("_nc"))
        .filter(F.col("n_tokens") > 0)
        .select(
            id_col,
            "n_tokens",
            F.posexplode(F.sequence(F.lit(0), F.col("_nc") - 1)).alias("chunk_id", "_i"),
            F.col("_toks"),
        )
        .select(
            id_col,
            "chunk_id",
            F.array_join(
                F.slice(F.col("_toks"), F.col("chunk_id") * stride + 1, chunk_tokens),
                " ",
            ).alias("chunk_text"),
            F.least(
                F.lit(chunk_tokens), F.col("n_tokens") - F.col("chunk_id") * stride
            ).alias("chunk_tokens"),
        )
    )


def pack_sequences(
    docs: DataFrame,
    cap_tokens: int = 256,
    text_col: str = "text",
    id_col: str = "doc_id",
    shard_col: str | None = None,
) -> DataFrame:
    """Deterministic streaming sequence packing: documents in ``id_col``
    order are assigned to training bins by their token prefix-sum —
    ``bin = floor(prefix_tokens_before / cap)`` — so every bin holds
    consecutive documents totalling ~``cap_tokens`` (a document may
    straddle a boundary; greedy first-fit would need sequential state, and
    this prefix-sum policy is the order-preserving batch equivalent).

    ``shard_col`` partitions the packing (bins are per-shard,
    ``(shard, bin_id)`` is the training-sequence key): an unsharded ordered
    window is a single-partition sort — fine for a test fixture, a
    bottleneck at corpus scale — so production callers ALWAYS shard (by
    language, source, or a hash of the id); ``None`` is the fixture-scale
    convenience only."""
    parts = [F.col(shard_col)] if shard_col else []
    w = Window.partitionBy(*parts).orderBy(F.col(id_col))
    tokens = token_count(F.col(text_col))
    d = docs.select(*( [shard_col] if shard_col else [] ), id_col, tokens.alias("n_tokens"))
    prefix_before = F.coalesce(
        F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)
    )
    return d.select(
        *( [shard_col] if shard_col else [] ),
        id_col,
        "n_tokens",
        F.floor(prefix_before / F.lit(cap_tokens)).cast("long").alias("bin_id"),
    )


# Fixed, documented weights for the logistic quality model: favors documents
# with more tokens and alphabetic/stopword structure, penalizes symbol noise.
# A real deployment learns these (fastText-style classifier); the scoring
# plan — one codegen'd linear form + sigmoid, no UDF — is identical.
QUALITY_MODEL_WEIGHTS = {
    "bias": -2.0,
    "log_tokens": 0.8,
    "stopword_ratio": 3.0,
    "alpha_ratio": 1.5,
    "punct_ratio": -4.0,
    "chars_per_token": -0.1,
}


def quality_model_score(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Model-based quality filtering: a logistic score over the heuristic
    feature set (``sigmoid(w . x)``), the shape of fastText/classifier
    quality gates in curation pipelines.  The features are the already
    6dp-rounded ``quality_features`` columns, the linear form accumulates
    in a fixed order, and the score rounds to 6 dp — cross-engine
    deterministic (both engines' ``exp`` agree well inside 1e-6).  Entirely
    codegen, shuffle-free."""
    w = QUALITY_MODEL_WEIGHTS
    f = quality_features(docs, text_col, id_col)
    z = (
        F.lit(w["bias"])
        + F.lit(w["log_tokens"]) * F.log1p(F.col("n_tokens").cast("double"))
        + F.lit(w["stopword_ratio"]) * F.col("stopword_ratio")
        + F.lit(w["alpha_ratio"]) * F.col("alpha_ratio")
        + F.lit(w["punct_ratio"]) * F.col("punct_ratio")
        + F.lit(w["chars_per_token"]) * F.col("chars_per_token")
    )
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    return f.select(
        id_col,
        score.alias("quality_score"),
        (score >= 0.5).alias("keep"),
    )


def extract_structured(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Structured extraction — the inverse of the PII scrub: pull the
    email / phone-shaped / long-number substrings out as typed array
    columns (plus counts), using the SAME cross-engine-safe patterns the
    scrubber replaces.  One shuffle-free map-side projection; the shape of
    any regex-table extraction pass (citations, URLs, code spans)."""
    t = F.col(text_col)
    email_re, phone_re, num_re = (p for p, _ in PII_PATTERNS)
    return docs.select(
        F.col(id_col),
        F.regexp_extract_all(t, F.lit(email_re), 0).alias("emails"),
        F.regexp_extract_all(t, F.lit(phone_re), 0).alias("phones"),
        F.regexp_extract_all(t, F.lit(num_re), 0).alias("numbers"),
    ).select(
        id_col,
        "emails",
        "phones",
        "numbers",
        F.size("emails").alias("n_emails"),
        F.size("phones").alias("n_phones"),
        F.size("numbers").alias("n_numbers"),
    )


def vocab_topk(
    docs: DataFrame, k: int = 100, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus vocabulary: the top-k tokens by document frequency (ties by
    token), with term frequency carried along — the df table a tokenizer
    or tf-idf pass builds first.  The explode shuffles (token, doc) pairs
    but the aggregate map-side combines per token, so what crosses the
    wire is O(distinct tokens per task), and the final top-k is a
    TakeOrdered over the (small) token-frequency table, not a global
    sort."""
    toks = docs.select(
        F.col(id_col), F.explode(tokenize(F.col(text_col))).alias("tok")
    )
    per_doc = toks.groupBy("tok", id_col).agg(F.count(F.lit(1)).alias("tf"))
    freq = per_doc.groupBy("tok").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("tf_total")
    )
    return (
        freq.orderBy(F.col("df").desc(), F.col("tok"))
        .limit(k)
        .withColumn("rank", F.row_number().over(
            Window.orderBy(F.col("df").desc(), F.col("tok"))
        ))
    )


def token_rarity(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document token-rarity profile from corpus document frequencies:
    the min and median df over the doc's distinct tokens.

    The deterministic stand-in for an n-gram-LM surprisal filter: docs full
    of corpus-rare tokens (min_df tiny) are misspellings/noise candidates,
    docs of only ubiquitous tokens (high median_df) are boilerplate
    candidates. Everything stays in INTEGER document-frequency space —
    unlike log-probability scores, the median of integers interpolates to an
    exact x.0/x.5, so the result is bit-identical on any engine and any
    partial-aggregation order. All shuffles are keyed (token df table, df
    attach join, per-doc agg); common-token skew is AQE's case.
    Output: (doc_id, n_distinct_tokens, min_df, median_df)."""
    toks = docs.select(F.col(id_col).alias("doc_id"), F.explode(tokenize(F.col(text_col))).alias("tok")).distinct()
    dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    return (
        toks.join(dfreq, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_tokens"),
            F.min("df").alias("min_df"),
            F.round(F.percentile("df", F.lit(0.5)), 1).alias("median_df"),
        )
    )


def bigram_lm_score(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-trained bigram language-model predictability score — the
    perplexity-style quality filter of LLM data pipelines (highly
    predictable text = boilerplate/template candidates; the real thing
    trains KenLM, this is its deterministic engine-shaped core: the model
    IS a DataFrame, trained and applied in one plan).

    Model: MLE conditional p(w2|w1) = c(w1 w2) / c(w1 ·), rounded to 6 dp
    (rational-derived doubles — cross-engine exact). Score: per doc, the
    number of bigrams and the sum of their conditional probabilities
    (DECIMAL partials, order-invariant). Docs with < 2 tokens produce no
    row.

    100 TB shape: token/bigram count tables are vocabulary-sized, not
    corpus-sized; every join is equi-keyed on token strings (a hot bigram
    joins 1:1 against its count row, so frequency skew never fans out);
    the only per-row window is the doc-local bigram build (partitioned by
    doc_id — unskewable by construction)."""
    from pyspark.sql import Window

    from ..functions import TOKEN_SPLIT_RE

    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.trim(F.col(text_col)), TOKEN_SPLIT_RE)).alias("pos", "tok"),
    ).filter(F.col("tok") != "")
    w = Window.partitionBy("doc_id").orderBy("pos")
    big = (
        toks.select(
            "doc_id",
            F.col("tok").alias("w1"),
            F.lead("tok").over(w).alias("w2"),
        )
        .filter(F.col("w2").isNotNull())
    )
    # The trained model is the vocabulary-sized bigram count table —
    # materialize IT (eager localCheckpoint), not the corpus-sized bigram
    # frame: c2 feeds both the prefix totals and the ratio join, and
    # without materialization each reference re-runs the corpus pass
    # (documents would scan 3x; now exactly 2x — train + score, the
    # honest minimum for train-then-apply in one plan).
    c2 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n12")).localCheckpoint(
        eager=True
    )
    c1 = c2.groupBy("w1").agg(F.sum("n12").alias("n1"))
    model = c2.join(c1, "w1").select(
        "w1", "w2", F.round(F.col("n12") / F.col("n1"), 6).alias("p")
    )
    return (
        big.join(model, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.sum(F.col("p").cast("decimal(28,6)")), 6)
            .cast("double")
            .alias("pred_score"),
        )
    )


SCRIPT_RANGES = {
    # literal BMP character ranges work identically in Java regex (Spark)
    # and RE2 (DuckDB); avoid engine-specific \u / \x{...} escape syntax
    "latin": "[A-Za-zÀ-ɏ]",
    "cjk": "[一-鿿぀-ヿ]",
    "cyrillic": "[Ѐ-ӿ]",
    "arabic": "[؀-ۿ]",
    "digit": "[0-9]",
}


def script_profile(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Unicode-script profile — the mixed-script / wrong-script curation
    gate (spam and mojibake detection; the complement of the n-gram
    ``lang_id``): per document, character counts for the major script
    ranges plus a deterministic dominant-script label (fixed-priority
    tie-break: latin > cjk > cyrillic > arabic).

    Entirely JVM-side codegen (``regexp_count`` over literal character
    ranges — no Python, no shuffle); the same literal ranges run unchanged
    in DuckDB's RE2, which is what makes the oracle hash-exact."""
    d = docs.select(id_col, text_col)
    counts = {k: F.regexp_count(F.col(text_col), F.lit(p)) for k, p in SCRIPT_RANGES.items()}
    dominant = (
        F.when(
            (counts["latin"] >= counts["cjk"])
            & (counts["latin"] >= counts["cyrillic"])
            & (counts["latin"] >= counts["arabic"]),
            "latin",
        )
        .when(
            (counts["cjk"] >= counts["cyrillic"]) & (counts["cjk"] >= counts["arabic"]),
            "cjk",
        )
        .when(counts["cyrillic"] >= counts["arabic"], "cyrillic")
        .otherwise("arabic")
    )
    return d.select(
        id_col,
        *[c.cast("int").alias(f"{k}_ct") for k, c in counts.items()],
        F.length(text_col).cast("int").alias("char_ct"),
        dominant.alias("dominant_script"),
    )


def bm25_topk(
    docs: DataFrame,
    k: int = 3,
    k1: float = 1.5,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k characteristic terms per document by BM25 term weight — the
    length-normalized upgrade of ``tfidf_topk`` (a short doc repeating a
    term ranks it higher than a long doc mentioning it once).

    Determinism: the idf is the *rational* Robertson form without the log,
    ``(N - df + 0.5) / (df + 0.5)`` (always positive since df <= N; log is
    monotone so the ranking is identical), and the constants are chosen
    dyadic-exact (k1=1.5, b=0.75 => k1+1=2.5, 1-b=0.25 are all exact
    doubles), so every arithmetic step is an exactly-rounded IEEE op with a
    pinned association — bit-identical on any engine. avgdl is one exact
    integer-sum / integer-count division.

    Plan shape at scale: explode -> (doc, term) tf (one shuffle, map-side
    combine) -> per-doc dl from the tf frame (keyed agg, no second scan) ->
    df per term (small frame) -> one-row (N, avgdl) broadcast -> per-doc
    ranking window (bounded partitions). Output:
    (doc_id, term, score, rank)."""
    k1_plus_1 = k1 + 1.0
    one_minus_b = 1.0 - b
    toks = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(tokenize(F.col(text_col))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    corpus = docs.agg(F.count(F.lit(1)).alias("n_docs")).join(
        dl.agg((F.sum("dl") / F.count(F.lit(1))).alias("avgdl"))
    )
    raw = (
        tf.join(dl, "doc_id")
        .join(df_, "term")
        .join(F.broadcast(corpus))
        .withColumn(
            "raw_score",
            ((F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5)))
            * (
                (F.col("tf") * F.lit(k1_plus_1))
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (F.lit(one_minus_b) + F.lit(b) * (F.col("dl") / F.col("avgdl")))
                )
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("raw_score").desc(), F.col("term"))
    return (
        raw.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", F.round("raw_score", 6).alias("score"), "rank")
    )


def inverted_index(
    docs: DataFrame,
    min_df: int = 2,
    max_df_ratio: tuple[int, int] = (9, 10),
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Posting lists: term -> sorted distinct doc ids, for terms whose
    document frequency falls in [min_df, num/den of the corpus] — the
    index a retrieval / decontamination pass builds once and probes many
    times. The df band is query semantics, not a silent cap: singletons
    can't match anything and near-ubiquitous terms (df > 90% of docs by
    default) are the retrieval noise floor; both bounds are parameters and
    the ceiling compares ``df * den <= n_docs * num`` in pure integers so
    it is scale-relative and exactly reproducible.

    Plan shape at scale: explode -> ONE keyed shuffle on term with
    map-side partial collect_set (within-doc repeats and cross-partition
    duplicates both collapse before the wire; a (term, doc)-keyed distinct
    first would shuffle twice for the same network bytes) -> one-row
    corpus-count broadcast for the ceiling. A term kept by the ceiling can
    still own a posting list proportional to the corpus — inherent to
    inverted indexes; a deployment shards hot terms by posting-range the
    same way the LSH band store does. Output: (term, df, postings)."""
    num, den = max_df_ratio
    pairs = docs.select(
        F.explode(tokenize(F.col(text_col))).alias("term"), F.col(id_col).alias("doc_id")
    )
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        pairs.groupBy("term")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("postings"))
        .withColumn("df", F.size("postings").cast("long"))
        .join(F.broadcast(n))
        .filter((F.col("df") >= min_df) & (F.col("df") * den <= F.col("n_docs") * num))
        .select("term", "df", "postings")
    )


def pmi_bigrams(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 5,
) -> DataFrame:
    """Collocation mining: pointwise mutual information of consecutive
    token bigrams across the corpus — PMI = ln(p(x,y) / (p(x)p(y))) with
    p from exact corpus counts (bigram mass nb, unigram mass nu). High-PMI
    pairs are multiword expressions ("new york"); the standard vocabulary-
    induction / phrase-detection signal.

    Plan shape: bigrams come from zipping each token array against its
    own tail INSIDE the row (codegen slice + arrays_zip — no posexplode
    self-join), so the only shuffles are the two keyed counts and the
    count-to-count joins; the totals broadcast. ``min_count`` is a
    declared frequency floor (also what keeps PMI's low-count noise out).
    Counts are exact; the single ln/divisions are IEEE-shared with the
    oracle."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    base = docs.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("_id"), toks.alias("_t")
    )
    n = F.size(F.col("_t"))
    pairs = base.select(
        F.explode(
            F.arrays_zip(
                F.slice(F.col("_t"), F.lit(1), n - 1).alias("x"),
                F.slice(F.col("_t"), F.lit(2), n - 1).alias("y"),
            )
        ).alias("p")
    ).select(F.col("p.x").alias("x"), F.col("p.y").alias("y")).where(
        (F.col("x") != "") & (F.col("y") != "")
    )
    unis = base.select(F.explode(F.col("_t")).alias("tok")).where(F.col("tok") != "")
    c_bi = pairs.groupBy("x", "y").agg(F.count(F.lit(1)).cast("long").alias("c_xy"))
    c_uni = unis.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("c"))
    nb = c_bi.agg(F.sum("c_xy").alias("nb"))
    nu = c_uni.agg(F.sum("c").alias("nu"))
    cx = c_uni.select(F.col("tok").alias("x"), F.col("c").alias("cx"))
    cy = c_uni.select(F.col("tok").alias("y"), F.col("c").alias("cy"))
    j = (
        c_bi.where(F.col("c_xy") >= min_count)
        .join(cx, "x")
        .join(cy, "y")
        .crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(nu))
    )
    return j.select(
        "x",
        "y",
        "c_xy",
        F.round(
            F.log(
                (F.col("c_xy").cast("double") / F.col("nb"))
                / (
                    (F.col("cx").cast("double") / F.col("nu"))
                    * (F.col("cy").cast("double") / F.col("nu"))
                )
            ),
            6,
        ).alias("pmi"),
    )
