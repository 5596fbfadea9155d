"""Text analysis operators: token counting, quality scoring, language-ID,
document fingerprinting. Pure built-in functions — whole-stage codegen'd,
no Python in the executor path."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

TOKEN_RE = r"\S+"
# BPE-ish word/punct splitter: words, numbers, or single punctuation marks
BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# Tiny marker-word lists per language for the n-gram/stopword heuristic.
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "und", "die", "das", "ist"],
    "fr": ["le", "la", "et", "les", "est"],
    "es": ["el", "la", "los", "que", "es"],
    "zh": ["的", "是", "了", "在", "我"],
}

STOPWORDS = LANG_MARKERS["en"] + ["a", "in", "that", "it", "for"]


def n_tokens(text: Column) -> Column:
    """Whitespace token count = number of maximal ``\\S+`` runs. Counting
    matches (instead of splitting on ``\\s+``) makes all-whitespace and
    leading/trailing-whitespace text correct: ``"\\t"`` has 0 tokens, not 2."""
    return F.size(F.regexp_extract_all(text, F.lit(TOKEN_RE), F.lit(0)))


def n_bpe_tokens(text: Column) -> Column:
    """BPE-ish token count: words + numbers + punctuation marks."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_RE), F.lit(0)))


def punct_ratio(text: Column) -> Column:
    punct = F.length(F.regexp_replace(text, r"[^.,;:!?'\"()\[\]-]", ""))
    return punct / F.greatest(F.length(text), F.lit(1))


def stopword_ratio(text: Column) -> Column:
    pat = r"(?i)\b(" + "|".join(STOPWORDS) + r")\b"
    hits = F.size(F.regexp_extract_all(text, F.lit(pat), F.lit(0)))
    return hits / F.greatest(n_tokens(text), F.lit(1))


def mean_word_len(text: Column) -> Column:
    toks = F.regexp_extract_all(text, F.lit(TOKEN_RE), F.lit(0))
    total = F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x))
    return total / F.greatest(F.size(toks), F.lit(1))


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: long enough, not punctuation soup,
    plausible word lengths, some stopwords (prose-ness)."""
    len_ok = F.least(F.length(text) / F.lit(500.0), F.lit(1.0))
    punct_ok = F.lit(1.0) - F.least(punct_ratio(text) * 5.0, F.lit(1.0))
    wl = mean_word_len(text)
    wl_ok = F.when((wl >= 3) & (wl <= 10), F.lit(1.0)).otherwise(F.lit(0.5))
    sw_ok = F.least(stopword_ratio(text) * 4.0, F.lit(1.0))
    return (len_ok + punct_ok + wl_ok + sw_ok) / 4.0


def lang_scores(text: Column) -> list[tuple[str, Column]]:
    out = []
    for lang, markers in LANG_MARKERS.items():
        pat = r"(?i)\b(" + "|".join(markers) + r")\b"
        out.append((lang, F.size(F.regexp_extract_all(text, F.lit(pat), F.lit(0)))))
    return out


def lang_id(text: Column) -> Column:
    """Marker-word language guess; deterministic tie-break by language code
    order. At scale, replace marker lists with char-trigram profiles built
    the same way (regexp counts + argmax)."""
    scores = lang_scores(text)
    pairs = F.array(*[F.struct(s.cast("long").alias("score"),
                               F.lit(lang).alias("lang"))
                      for lang, s in sorted(scores, key=lambda kv: kv[0])])
    best = F.array_max(pairs)
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("unknown"))


def fingerprint(text: Column) -> Column:
    """Normalized-content fingerprint: lowercase, collapse whitespace, md5."""
    norm = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    return F.md5(norm)


def _word_tokens(text: Column) -> Column:
    return F.regexp_extract_all(F.lower(text), F.lit(r"[a-z0-9]+"), F.lit(0))


def repetition_stats(df: DataFrame, text_col: str = "text",
                     gram_n: int = 2) -> DataFrame:
    """Gopher-style intra-document repetition signals, computed with pure
    array functions (zero shuffle — every stat is per-row):

    - ``rep_dup_token_frac``: fraction of tokens that are repeats of an
      earlier token (1 - distinct/total).
    - ``rep_top_gram_frac``: fraction of n-gram slots occupied by the single
      most frequent n-gram (``gram_n`` tokens).
    - ``rep_max_gram_count``: occurrence count of that most frequent n-gram.

    The top-gram frequency is computed as ``array_max(transform(distinct
    grams, g -> count in grams))`` — O(distinct × total) per document, which
    beats an explode + groupBy shuffle for normal document lengths; for
    book-length documents switch to the explode + groupBy((id, gram)) form.

    The token and gram arrays are STAGED as real columns before any lambda
    references them. Spark higher-order functions interpret their lambda
    bodies per element, so an expression-valued argument inside a nested
    lambda (``filter(<full gram-building expr>, ...)`` inside ``transform``)
    would re-tokenize the document once per distinct gram — measured ~600×
    slower at sf0.01. Bound column references make each array build once
    per row; CollapseProject leaves the staging projections alone because
    the aliases are non-cheap and multiply referenced.
    """
    t = F.col(text_col)
    toks = _word_tokens(t)
    n_starts = F.size(F.col("__toks")) - F.lit(gram_n - 1)
    idx = F.when(n_starts >= 1, F.sequence(F.lit(1), n_starts)) \
           .otherwise(F.array().cast("array<int>"))
    staged = (
        df.withColumn("__toks", toks)
        .withColumn("__grams", F.transform(
            idx, lambda i: F.concat_ws(" ", F.slice(F.col("__toks"), i, gram_n))))
        .withColumn("__counts", F.transform(
            F.array_distinct(F.col("__grams")),
            lambda g: F.size(F.filter(F.col("__grams"), lambda x: x == g))))
    )
    n_tok = F.size(F.col("__toks"))
    dup_frac = F.when(n_tok > 0,
                      (n_tok - F.size(F.array_distinct(F.col("__toks")))) /
                      n_tok.cast("double")).otherwise(F.lit(0.0))
    max_cnt = F.when(F.size(F.col("__counts")) > 0,
                     F.array_max(F.col("__counts"))).otherwise(F.lit(0))
    top_frac = F.when(F.size(F.col("__grams")) > 0,
                      max_cnt / F.size(F.col("__grams")).cast("double")) \
                .otherwise(F.lit(0.0))
    return staged.select(
        *df.columns,
        F.round(dup_frac, 6).alias("rep_dup_token_frac"),
        F.round(top_frac, 6).alias("rep_top_gram_frac"),
        max_cnt.cast("long").alias("rep_max_gram_count"),
    )


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    t = F.col(text_col)
    return df.select(
        "*",
        F.length(t).alias("stat_n_chars"),
        n_tokens(t).alias("stat_n_tokens"),
        n_bpe_tokens(t).alias("stat_n_bpe_tokens"),
        F.round(punct_ratio(t), 6).alias("stat_punct_ratio"),
        F.round(stopword_ratio(t), 6).alias("stat_stopword_ratio"),
        F.round(quality_score(t), 6).alias("stat_quality"),
        lang_id(t).alias("stat_lang"),
        fingerprint(t).alias("stat_fingerprint"),
    )


def chunk_text(df: DataFrame, chunk_chars: int = 500, overlap: int = 0,
               text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Fixed-window document chunking: one row per (doc, chunk_idx) with the
    substring chunk — the splitting primitive for context-window-bounded
    training pipelines. Pure built-in functions (sequence + explode +
    substr); at scale this is a map-side explode, no shuffle."""
    if overlap >= chunk_chars:
        raise ValueError("overlap must be smaller than chunk_chars")
    step = chunk_chars - overlap
    t = F.col(text_col)
    n = F.greatest(F.ceil((F.length(t) - F.lit(overlap)) / F.lit(step)), F.lit(1))
    idx = F.sequence(F.lit(0).cast("long"), (n - 1).cast("long"))
    return df.select(
        F.col(id_col), t.alias("__t"), F.explode(idx).alias("chunk_idx"),
    ).select(
        F.col(id_col), "chunk_idx",
        F.substring(F.col("__t"), (F.col("chunk_idx") * step + 1).cast("int"),
                    chunk_chars).alias("chunk"),
    )


def flesch_reading_ease(text: Column) -> Column:
    """Flesch reading ease from regexp counts (206.835 - 1.015*w/s -
    84.6*syl/w), with syllables approximated as vowel-group runs — the
    standard codec-free proxy. Entirely built-in expressions: one
    codegen'd projection, zero shuffle, any scale."""
    words = F.size(F.regexp_extract_all(text, F.lit(TOKEN_RE), F.lit(0)))
    sentences = F.greatest(
        F.size(F.regexp_extract_all(text, F.lit(r"[.!?]+"), F.lit(0))),
        F.lit(1))
    syllables = F.size(F.regexp_extract_all(
        text, F.lit(r"(?i)[aeiouy]+"), F.lit(0)))
    w = F.greatest(words, F.lit(1))
    return (F.lit(206.835)
            - F.lit(1.015) * (words / sentences.cast("double"))
            - F.lit(84.6) * (syllables / w.cast("double")))


def normalize_text(text: Column) -> Column:
    """C4/CCNet-style text normalization, entirely codegen'd expressions:
    strip ASCII control characters, unify Windows/Mac line endings, then
    collapse horizontal-whitespace runs to single spaces and trim. Paragraph
    structure (newlines) survives; everything else is canonical — run this
    BEFORE hashing/dedup so formatting variants collapse."""
    t = F.regexp_replace(text, "\r\n|\r", "\n")
    t = F.regexp_replace(t, "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]", "")
    t = F.regexp_replace(t, "[ \\t]+", " ")
    t = F.regexp_replace(t, " ?\n ?", "\n")
    return F.trim(t)


def vocab_topk(df: DataFrame, n: int = 1000, text_col: str = "text") -> DataFrame:
    """Corpus vocabulary head: the ``n`` most frequent whitespace tokens
    as ``(term, n_occurrences, rank)`` — the first artifact any tokenizer
    or stopword pipeline needs. One explode + count shuffle on uniform
    term keys, then distributed TakeOrdered (no global window)."""
    from pyspark.sql import Window as W

    counts = (df.select(F.explode(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term").agg(F.count(F.lit(1)).alias("n_occurrences")))
    top = counts.orderBy(F.col("n_occurrences").desc(), "term").limit(n)
    rk = F.row_number().over(W.orderBy(F.col("n_occurrences").desc(), "term"))
    return top.withColumn("rank", rk)


def bpe_merge_candidates(df: DataFrame, n: int = 20,
                         text_col: str = "text") -> DataFrame:
    """One step of byte-pair-encoding vocabulary induction: adjacent
    CHARACTER pair counts weighted by word frequency, as
    ``(left, right, pair_count, rank)`` — the statistic whose argmax is
    the next BPE merge (Sennrich et al. 2016). BPE trains on the distinct-
    word frequency table, so the corpus collapses to one row per distinct
    word BEFORE the character explode — the corpus-size-independent shape
    (a 100 TB crawl has a bounded distinct-word table). Full training
    iterates: apply the winning merge to the symbolization and re-count;
    each round is this same aggregate over the re-split words."""
    from pyspark.sql import Window as W

    words = (df.select(F.explode(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w").agg(F.count(F.lit(1)).alias("wc")))
    pairs = F.transform(
        F.sequence(F.lit(1), F.length("w") - 1),
        lambda i: F.struct(F.col("w").substr(i, F.lit(1)).alias("l"),
                           F.col("w").substr(i + 1, F.lit(1)).alias("r")))
    counts = (words.filter(F.length("w") >= 2)
              .select("wc", F.explode(pairs).alias("p"))
              .groupBy(F.col("p.l").alias("left"),
                       F.col("p.r").alias("right"))
              .agg(F.sum("wc").alias("pair_count")))
    top = counts.orderBy(F.col("pair_count").desc(), "left", "right").limit(n)
    rk = F.row_number().over(
        W.orderBy(F.col("pair_count").desc(), "left", "right"))
    return top.withColumn("rank", rk)


def _bpe_train_driver(rows, n_merges: int) -> list[tuple[int, str, str, int]]:
    """Driver-side greedy BPE over a collected (word, wc) vocabulary —
    the EXACT algorithm of the distributed loop (all adjacent symbol
    pairs weighted by word count; argmax by count desc then
    lexicographic (l, r); greedy left-to-right merge application), just
    without one Spark aggregate + fold job per round. UTF-8 byte order
    and Python code-point order agree, so the tie-break matches Spark's
    binary string ordering."""
    vocab = [(list(r["w"]), int(r["wc"])) for r in rows]
    merges: list[tuple[int, str, str, int]] = []
    for step in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, wc in vocab:
            for i in range(len(syms) - 1):
                k = (syms[i], syms[i + 1])
                counts[k] = counts.get(k, 0) + wc
        if not counts:
            break
        (l, r), c = min(counts.items(),
                        key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        merges.append((step, l, r, c))
        merged = l + r
        for idx, (syms, wc) in enumerate(vocab):
            if len(syms) < 2:
                continue
            acc = [syms[0]]
            for x in syms[1:]:
                if acc[-1] == l and x == r:
                    acc[-1] = merged
                else:
                    acc.append(x)
            vocab[idx] = (acc, wc)
    return merges


def _apply_merges(syms: list, mlist) -> list:
    """Greedy left-to-right application of an ORDERED merge list to one
    word's symbolization — the exact fold of :func:`_bpe_train_driver`
    and the old per-merge ``F.aggregate`` expression (append, or replace
    the tail symbol when (tail, next) equals the merge)."""
    for l, r in mlist:
        if len(syms) < 2:
            break
        merged = l + r
        acc = [syms[0]]
        for x in syms[1:]:
            if acc[-1] == l and x == r:
                acc[-1] = merged
            else:
                acc.append(x)
        syms = acc
    return syms


def _bpe_apply_udf(mlist: list[tuple[str, str]]):
    """Arrow-batched pandas UDF applying an ordered merge list to the
    ``syms`` column — one vectorized pass instead of len(mlist) nested
    interpreted higher-order folds (guide §4.2; the bpe_segment
    precedent measured ~20x on the same fold)."""
    ml = [(str(l), str(r)) for l, r in mlist]

    @F.pandas_udf("array<string>")
    def apply_merges(syms: pd.Series) -> pd.Series:
        return pd.Series([_apply_merges(list(s), ml) for s in syms])

    return apply_merges


def _bpe_safe_batch(rows, truncated: bool, max_take: int,
                    created: set) -> list[tuple[str, str, int]]:
    """Greedy prefix of the (count desc, l, r)-sorted pair-count table
    that PROVABLY equals the next ``len(batch)`` merges of the strictly
    sequential argmax loop. Safety argument (equivalence-tested in
    tests/test_bpe_equivalence.py against the driver loop):

    after applying a set of pairwise symbol-disjoint merges,
      (a) a pair disjoint from every applied merge keeps its exact count
          (none of its occurrences touch a merged symbol);
      (b) a pair sharing a symbol with an applied merge can only LOSE
          occurrences (its adjacencies were consumed);
      (c) a NEW pair involving a merged symbol lr inherits at most the
          old count of a parent pair that contained l or r; and
      (d) if lr did not exist as a symbol before the merge, no existing
          pair's count can GROW.
    So an accepted pair p is still the global argmax at its own turn
    whenever its count STRICTLY exceeds the old count of every pair
    sharing a symbol with an earlier-accepted merge (and the truncation
    boundary, which upper-bounds every unseen pair). Strictness also
    excludes ties, so the (count desc, l, r) tie-break never has to
    compare against a changed or newly-created pair. When an accepted
    merge's symbol lr ALREADY exists (violates (d) — counts of
    lr-containing pairs may grow unpredictably), the batch stops at it:
    that merge itself is proven, the rest waits for the recount."""
    batch: list[tuple[str, str, int]] = []
    used: set = set()
    boundary = float("-inf")
    if truncated and rows:
        boundary = int(rows[-1]["c"])
    for row in rows:
        if len(batch) >= max_take:
            break
        l, r, c = row["l"], row["r"], int(row["c"])
        if l in used or r in used:
            continue
        if batch:
            danger = boundary
            accepted = {(b[0], b[1]) for b in batch}
            for q in rows:
                if (q["l"], q["r"]) in accepted:
                    continue
                if q["l"] in used or q["r"] in used:
                    danger = max(danger, int(q["c"]))
            if c <= danger:
                break  # later rows only get smaller — nothing can pass
        batch.append((l, r, c))
        if l + r in created:
            break  # (d) violated for LATER candidates; this one is safe
        created = created | {l + r}
        used.update((l, r, l + r))
    return batch


def bpe_train(df: DataFrame, n_merges: int = 6,
              text_col: str = "text",
              driver_vocab_max: int = 200_000) -> list[tuple[int, str, str, int]]:
    """Full BPE vocabulary training (Sennrich et al. 2016), distributed:
    iterate :func:`bpe_merge_candidates`'s statistic — each round picks
    the most frequent adjacent SYMBOL pair (count desc, then lexicographic
    — deterministic) and merges it greedily left-to-right in every word's
    symbolization. Returns ``[(step, left, right, pair_count), ...]``.

    Scale shape: the corpus collapses to the distinct-word frequency
    table once; each round is one pair-count aggregate (driver reads ONE
    row — the argmax) plus a map-side fold applying the merge
    (``aggregate`` over the symbol array: append, or replace the tail
    symbol when (tail, next) equals the merge — exactly greedy BPE, no
    regex re-splitting). Lineage is truncated per round with a lazy
    localCheckpoint, the kmeans/Pregel discipline."""
    words = (df.select(F.explode(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w").agg(F.count(F.lit(1)).alias("wc")))
    # Bounded-driver fast path (the TS_ID_PUSHDOWN_MAX / VALUES-probe
    # discipline): BPE trains on the DISTINCT-WORD table, which the
    # docstring's scale argument already bounds — when it fits under the
    # cap, one collect + a driver loop replaces n_merges sequential
    # (aggregate + argmax + interpreted-fold re-symbolization) Spark
    # rounds. Measured at sf0.1: the 6-merge train drops from ~14 s of
    # round-trip jobs to ~1 s; merges are bit-identical (same counts,
    # same tie-break). Vocabularies above the cap keep the distributed
    # loop unchanged.
    if driver_vocab_max > 0:
        head = words.limit(driver_vocab_max + 1).collect()
        if len(head) <= driver_vocab_max:
            return _bpe_train_driver(head, n_merges)
    # Distributed path above the cap — the actual 100 TB path (r13
    # verdict item 4). Two changes vs the one-merge-per-round loop:
    # (1) BATCHED rounds: each pair-count aggregate collects the top
    #     candidates and _bpe_safe_batch accepts the longest prefix of
    #     provably-sequential-equal merges (pairwise symbol-disjoint,
    #     each strictly above every interacting count), so n_merges
    #     costs ~n_merges/|batch| aggregates instead of n_merges;
    # (2) the re-symbolization applies the whole batch in ONE Arrow
    #     pass (guide §4.2) instead of one interpreted F.aggregate fold
    #     per merge.
    # Equivalence with the sequential driver loop is randomized-tested
    # (tie-heavy alphabets, overlapping self-pairs) in
    # tests/test_bpe_equivalence.py.
    cand_limit = max(64, 4 * n_merges)
    chars = F.transform(F.sequence(F.lit(1), F.length("w")),
                        lambda i: F.col("w").substr(i, F.lit(1)))
    state = words.select("wc", chars.alias("syms"))
    merges: list[tuple[int, str, str, int]] = []
    while len(merges) < n_merges:
        pairs = F.transform(
            F.sequence(F.lit(1), F.size("syms") - 1),
            lambda i: F.struct(F.element_at("syms", i.cast("int")).alias("l"),
                               F.element_at("syms", (i + 1).cast("int"))
                               .alias("r")))
        top = (state.filter(F.size("syms") >= 2)
               .select("wc", F.explode(pairs).alias("p"))
               .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
               .agg(F.sum("wc").alias("c"))
               .orderBy(F.col("c").desc(), "l", "r")
               .limit(cand_limit + 1).collect())
        if not top:
            break
        batch = _bpe_safe_batch(top[:cand_limit], len(top) > cand_limit,
                                n_merges - len(merges),
                                {m[1] + m[2] for m in merges})
        for l, r, c in batch:
            merges.append((len(merges), l, r, c))
        state = (state.select(
            "wc", _bpe_apply_udf([(l, r) for l, r, _ in batch])
            (F.col("syms")).alias("syms"))
            .localCheckpoint(eager=False))
    return merges


def bpe_segment(df: DataFrame, merges: list[tuple[str, str]],
                text_col: str = "text") -> DataFrame:
    """Apply an ORDERED BPE merge list (from :func:`bpe_train`) to the
    corpus vocabulary: per distinct word, fold each merge greedily
    left-to-right in sequence — the inference side of the tokenizer.
    Returns ``(word, wc, n_syms, segmentation)`` with the symbolization
    '|'-joined (scalar output). Pure chained map-side folds, zero extra
    shuffle beyond the distinct-word collapse; merges ride as plan
    literals."""
    words = (df.select(F.explode(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w").agg(F.count(F.lit(1)).alias("wc")))
    # One Arrow-batched pass applying the ordered merge list in Python —
    # the same greedy left-to-right fold the previous chained
    # F.aggregate expressions computed, but vectorized instead of
    # len(merges) nested interpreted HOF trees per word (guide §4.2;
    # measured ~14 s -> ~1 s for the 6-merge segment at sf0.1, identical
    # segmentations).
    mlist = [(str(l), str(r)) for l, r in merges]

    @F.pandas_udf("array<string>")
    def seg_udf(ws: pd.Series) -> pd.Series:
        return pd.Series([_apply_merges(list(w), mlist) for w in ws])

    segd = words.withColumn("__syms", seg_udf(F.col("w")))
    return segd.select(F.col("w").alias("word"), "wc",
                       F.size("__syms").alias("n_syms"),
                       F.array_join("__syms", "|").alias("segmentation"))


def bpe_token_counts(df: DataFrame, merges: list[tuple[str, str]],
                     text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Per-document token counts UNDER A TRAINED TOKENIZER — the number
    that token-budget planning actually needs (whitespace counts
    under-estimate BPE sequence length). Segments the distinct-word
    vocabulary once (:func:`bpe_segment`), broadcasts the (word → n_syms)
    map back onto the exploded corpus, and sums per document:
    ``(id_col, n_words, n_bpe_tokens)``. The per-word work is vocabulary-
    sized; the corpus-sized pass is one explode + broadcast join + sum."""
    seg = bpe_segment(df, merges, text_col).select("word", "n_syms")
    toks = (df.select(F.col(id_col), F.explode(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("word"))
        .filter(F.col("word") != ""))
    return (toks.join(F.broadcast(seg), "word")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_words"),
                 F.sum("n_syms").alias("n_bpe_tokens")))


RAKE_STOPWORDS = ("a", "an", "and", "are", "as", "at", "be", "by", "for",
                  "from", "in", "is", "it", "of", "on", "or", "that",
                  "the", "this", "to", "with")


def rake_keyphrases(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", max_phrase_len: int = 4,
                    top: int = 40) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010) at corpus level:
    split each document into candidate phrases at stopwords, score each
    word ``degree / frequency`` over ALL candidate phrases (degree =
    sum of lengths of the phrases containing it — rewarding words that
    travel in long collocations), and score a phrase as the sum of its
    member word scores. Returns the ``top`` phrases by score with their
    corpus occurrence counts.

    Scale shape: phrase segmentation is one per-document window pass
    (running count of stopword breaks); word stats are one grouped
    count over exploded phrase members; the score join is a linear
    shuffle on the word key. Phrases longer than ``max_phrase_len``
    are discarded (bounding phrase-array width). Determinism: word
    scores are exact integer ratios, and the phrase score folds member
    scores IN WORD ORDER (``F.aggregate`` / SQL ``list_reduce``), so
    the doubles are bit-identical in any engine."""
    from pyspark.sql import Window as W

    toks = (df.select(F.col(id_col).alias("__id"),
                      F.posexplode(F.split(F.lower(F.trim(F.col(text_col))),
                                           r"\s+"))
                      .alias("__pos", "__w"))
            .where(F.col("__w") != ""))
    stop = F.col("__w").isin(*RAKE_STOPWORDS)
    toks = toks.withColumn(
        "__pid", F.sum(stop.cast("int"))
        .over(W.partitionBy("__id").orderBy("__pos")))
    phr = (toks.where(~stop)
           .groupBy("__id", "__pid")
           .agg(F.transform(F.array_sort(F.collect_list(
               F.struct("__pos", "__w"))), lambda s: s["__w"])
               .alias("ws"))
           .where(F.size("ws") <= max_phrase_len))
    members = phr.select(F.explode("ws").alias("__w"),
                         F.size("ws").alias("__len"))
    wstat = (members.groupBy("__w")
             .agg(F.count(F.lit(1)).alias("__freq"),
                  F.sum("__len").alias("__deg"))
             .select("__w", (F.col("__deg") / F.col("__freq")
                             .cast("double")).alias("__s")))
    scored = (phr.select("__id", "__pid", "ws",
                         F.posexplode("ws").alias("__i", "__w"))
              .join(wstat, "__w")
              .groupBy("__id", "__pid")
              .agg(F.first("ws").alias("ws"),
                   F.aggregate(
                       F.transform(F.array_sort(F.collect_list(
                           F.struct("__i", "__s"))), lambda s: s["__s"]),
                       F.lit(0.0), lambda a, x: a + x).alias("__sc")))
    return (scored
            .groupBy(F.concat_ws(" ", "ws").alias("phrase"))
            .agg(F.count(F.lit(1)).alias("n_occurrences"),
                 F.round(F.max("__sc"), 6).alias("score"))
            .orderBy(F.col("score").desc(), "phrase")
            .limit(top))


def zipf_exponent(df: DataFrame, text_col: str = "text",
                  top_n: int = 1000) -> DataFrame:
    """Zipf-law fit of the corpus token frequency distribution: OLS of
    ``ln(freq)`` against ``ln(rank)`` over the ``top_n`` most frequent
    tokens (rank ties broken by token). Natural text sits near slope
    −1; a corpus of boilerplate or template spam drifts far off — a
    one-number corpus-health check. Returns one row
    ``(n_tokens_fit, slope, intercept, r2)``.

    Same determinism contract as ``timeseries.trend_ols``: the OLS
    moments accumulate in DECIMAL(38,12) over the (tiny) rank frame and
    the statistics are single double expressions."""
    from pyspark.sql import Window as W

    freq = (df.select(F.explode(F.split(F.lower(F.trim(F.col(text_col))),
                                        r"\s+")).alias("w"))
            .where(F.col("w") != "")
            .groupBy("w").agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), "w").limit(top_n))
    rk = F.row_number().over(W.partitionBy().orderBy(F.col("n").desc(),
                                                     "w"))
    dec = "decimal(38,12)"
    x = F.log(F.col("__rk").cast("double"))
    y = F.log(F.col("n").cast("double"))
    agg = (freq.withColumn("__rk", rk)
           .agg(F.count(F.lit(1)).alias("k"),
                F.sum(x.cast(dec)).alias("sx"),
                F.sum(y.cast(dec)).alias("sy"),
                F.sum((x * y).cast(dec)).alias("sxy"),
                F.sum((x * x).cast(dec)).alias("sxx"),
                F.sum((y * y).cast(dec)).alias("syy")))
    from otit_swt_spark.timeseries import ols_from_moments

    slope, intercept, r2 = ols_from_moments(
        F.col("k").cast("double"), F.col("sx").cast("double"),
        F.col("sy").cast("double"), F.col("sxy").cast("double"),
        F.col("sxx").cast("double"), F.col("syy").cast("double"))
    return agg.select(F.col("k").alias("n_tokens_fit"),
                      slope.alias("slope"), intercept.alias("intercept"),
                      r2.alias("r2"))


def pmi_collocations(df: DataFrame, text_col: str = "text",
                     min_count: int = 5, top_n: int = 50) -> DataFrame:
    """Pointwise-mutual-information bigram collocations — the standard
    fixed-phrase detector (Church & Hanks 1990) a tokenizer/vocab
    pipeline runs to decide which word pairs deserve single-token status
    ("new york", "machine learning"). PMI = ln(p(a,b) / (p(a)·p(b)))
    with p(a,b) over the bigram stream and p(·) over the unigram
    stream; ``min_count`` suppresses the low-frequency PMI explosion
    (a pair seen once with rare words scores arbitrarily high).

    Shape: one explode->count per stream (uniform token keys), two
    equi-joins of the bigram frame against the unigram counts, scalar
    totals as a one-row broadcast, distributed TakeOrdered for the
    head — no global window, no cross join over data. The PMI argument
    is assembled as one double expression from exact integer counts
    (identical operation order in the SQL oracle), so the statistic is
    bit-replayable."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    staged = df.select(toks.alias("__t"))
    uni = (staged.select(F.explode("__t").alias("w"))
           .where(F.col("w") != "")
           .groupBy("w").agg(F.count(F.lit(1)).alias("n_w")))
    idx = F.sequence(F.lit(0), F.size("__t") - F.lit(2))
    bi = (staged.where(F.size("__t") >= 2)
          .select(F.explode(F.transform(
              idx, lambda i: F.struct(
                  F.element_at("__t", (i + 1).cast("int")).alias("a"),
                  F.element_at("__t", (i + 2).cast("int")).alias("b"))))
              .alias("p"))
          .select("p.a", "p.b")
          .where((F.col("a") != "") & (F.col("b") != ""))
          .groupBy("a", "b").agg(F.count(F.lit(1)).alias("n_ab"))
          .where(F.col("n_ab") >= min_count))
    totals = (uni.agg(F.sum("n_w").alias("__nu"))
              .crossJoin(F.broadcast(
                  bi.agg(F.sum("n_ab").alias("__nb")))))
    ua = uni.select(F.col("w").alias("a"), F.col("n_w").alias("n_a"))
    ub = uni.select(F.col("w").alias("b"), F.col("n_w").alias("n_b"))
    pmi = F.log((F.col("n_ab").cast("double")
                 * F.col("__nu").cast("double")
                 * F.col("__nu").cast("double"))
                / (F.col("__nb").cast("double")
                   * F.col("n_a").cast("double")
                   * F.col("n_b").cast("double")))
    scored = (bi.join(ua, "a").join(ub, "b")
              .crossJoin(F.broadcast(totals))
              .select("a", "b", "n_ab", "n_a", "n_b",
                      (F.round(pmi, 6) + F.lit(0.0)).alias("pmi")))
    return scored.orderBy(F.col("pmi").desc(), "a", "b").limit(top_n)


def gopher_rules(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", min_words: int = 50,
                 max_words: int = 100_000,
                 keep_cols: tuple[str, ...] = ()) -> DataFrame:
    """The Gopher document-quality rules (Rae et al. 2021, Appendix A —
    the published filter set most pretraining pipelines start from), as
    per-rule boolean flags plus the conjunction, so downstream callers
    can audit WHICH rule rejected a document instead of losing it to a
    composite score (:func:`quality_score` stays the cheap scalar):

    - word count in [min_words, max_words]
    - mean word length in [3, 10]
    - symbol-to-word ratio ('#' and '...') <= 0.1
    - <= 90% of lines start with a bullet ('-', '*', '•')
    - <= 30% of lines end with an ellipsis
    - >= 80% of words contain at least one alphabetic character
    - >= 2 distinct stopwords of {the, be, to, of, and, that, have,
      with} present (the "prose not keyword soup" test)

    Pure built-in string/array expressions — map-side, SQL-replayable,
    no UDF. Duplicate-content rules live in
    :func:`repetition_stats` (document-internal n-gram/line dup
    fractions) and compose with these flags. Output: one row per doc
    with the raw measures, seven ``ok_*`` flags and ``passes``."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    words = F.filter(F.split(t, r"\s+"), lambda w: w != "")
    n_words = F.size(words)
    sum_len = F.aggregate(words, F.lit(0).cast("long"),
                          lambda acc, w: acc + F.length(w))
    mean_wl = F.when(n_words > 0,
                     sum_len.cast("double") / n_words.cast("double"))
    n_hash = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    n_ell = ((F.length(t)
              - F.length(F.replace(t, F.lit("..."), F.lit("")))) / 3) \
        .cast("long")
    sym_ratio = F.when(n_words > 0, (n_hash + n_ell).cast("double")
                       / n_words.cast("double"))
    lines = F.filter(F.split(t, "\n"), lambda ln: F.trim(ln) != "")
    n_lines = F.size(lines)
    bullet = F.size(F.filter(
        lines, lambda ln: F.trim(ln).rlike(r"^[-*•]")))
    ellipsis = F.size(F.filter(
        lines, lambda ln: F.trim(ln).rlike(r"(\.\.\.|…)$")))
    bullet_frac = F.when(n_lines > 0,
                         bullet.cast("double") / n_lines.cast("double"))
    ell_frac = F.when(n_lines > 0,
                      ellipsis.cast("double") / n_lines.cast("double"))
    alpha = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    alpha_frac = F.when(n_words > 0,
                        alpha.cast("double") / n_words.cast("double"))
    low = F.concat(F.lit(" "),
                   F.regexp_replace(F.lower(t), r"\s+", " "), F.lit(" "))
    stop_hits = None
    for w in ("the", "be", "to", "of", "and", "that", "have", "with"):
        hit = F.when(low.contains(f" {w} "), 1).otherwise(0)
        stop_hits = hit if stop_hits is None else stop_hits + hit
    # keep_cols ride the projection untouched: the whole function is ONE
    # stateless select, so a streaming corpus chain can filter on
    # ``passes`` while the document text (and any metadata) stays on the
    # row — a flags-then-join-back shape would be a stream-stream join
    # needing watermark state for what is purely map-side work.
    produced = {"passes", "n_words", "mean_word_len", "symbol_ratio",
                "bullet_frac", "ellipsis_frac", "alpha_word_frac",
                "stopword_hits", "ok_word_count", "ok_mean_word_len",
                "ok_symbol_ratio", "ok_bullet", "ok_ellipsis",
                "ok_alpha", "ok_stopwords"}
    clash = sorted(produced & set(keep_cols))
    if clash:
        raise ValueError(
            f"keep_cols collide with gopher_rules output columns: {clash}")
    riders = [F.col(c) for c in keep_cols if c != id_col]
    out = df.select(
        F.col(id_col), *riders,
        n_words.alias("n_words"),
        (F.round(mean_wl, 6) + F.lit(0.0)).alias("mean_word_len"),
        (F.round(sym_ratio, 6) + F.lit(0.0)).alias("symbol_ratio"),
        (F.round(bullet_frac, 6) + F.lit(0.0)).alias("bullet_frac"),
        (F.round(ell_frac, 6) + F.lit(0.0)).alias("ellipsis_frac"),
        (F.round(alpha_frac, 6) + F.lit(0.0)).alias("alpha_word_frac"),
        stop_hits.cast("int").alias("stopword_hits"))
    flags = out.select(
        "*",
        ((F.col("n_words") >= min_words)
         & (F.col("n_words") <= max_words)).alias("ok_word_count"),
        (F.col("mean_word_len").between(3.0, 10.0)).alias("ok_mean_word_len"),
        (F.col("symbol_ratio") <= 0.1).alias("ok_symbol_ratio"),
        (F.coalesce(F.col("bullet_frac"), F.lit(0.0)) <= 0.9)
        .alias("ok_bullet"),
        (F.coalesce(F.col("ellipsis_frac"), F.lit(0.0)) <= 0.3)
        .alias("ok_ellipsis"),
        (F.col("alpha_word_frac") >= 0.8).alias("ok_alpha"),
        (F.col("stopword_hits") >= 2).alias("ok_stopwords"))
    passes = None
    for c in ("ok_word_count", "ok_mean_word_len", "ok_symbol_ratio",
              "ok_bullet", "ok_ellipsis", "ok_alpha", "ok_stopwords"):
        term = F.coalesce(F.col(c), F.lit(False))
        passes = term if passes is None else passes & term
    return flags.withColumn("passes", passes)
