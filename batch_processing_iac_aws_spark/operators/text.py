"""Text analysis for training-data pipelines: tokenization, quality
heuristics, language-ID, and document fingerprinting — all built-in
pyspark.sql.functions (split/transform/aggregate), zero Python UDFs, so
the whole surface runs in whole-stage codegen at fact-table scale.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

#: Tiny per-language stopword lists for the n-gram/stopword-voting heuristic.
#: Public common-word lists; intentionally minimal — the operator's value is
#: the scalable voting plumbing, not lexicon quality.
_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it", "that", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "ich"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es", "se", "no"),
    "fr": ("le", "la", "de", "et", "un", "est", "en", "que", "une", "pour"),
    "zh": ("的", "了", "是", "我", "不", "在", "人", "有", "他", "这"),
}


def tokens(text_col: Column | str) -> Column:
    """Whitespace tokenization (lowercased), EMPTY TOKENS DROPPED: Spark's
    split keeps the '' a leading/trailing separator produces, which made
    every downstream consumer miscount — an empty document scored
    n_tokens=1 / quality 0.505 (passing the >=0.5 gate), padded docs
    shifted their boilerplate-segment windows so cross-document dedup
    missed them, and ' a b ' counted 4 tokens. Python's str.split() and
    the property-test ground truths already use no-empty semantics."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.filter(F.split(F.lower(c), r"\s+"), lambda x: x != F.lit(""))


#: regex shared by the codegen Column path (bpe_ish_tokens) and its
#: pure-Python twin — ONE definition so the two can never drift. NOTE the
#: \s class: Java regex \s is ASCII-only, so the Python twin compiles
#: with re.ASCII to match (NBSP etc. fall into the punctuation class in
#: BOTH engines).
_BPE_ISH_PATTERN = r"'s|'t|'re|'ve|'m|'ll|'d|[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]+"


def bpe_ish_tokens(text_col: Column | str) -> Column:
    """Subword-ish tokenization: split on word boundaries AND punctuation,
    keeping digit runs separate — a regex approximation of BPE pre-tokenizer
    behavior (GPT-2 style contractions/letters/digits/other classes).
    Pure public-API Column composition (regexp_extract_all + filter), so it
    stays codegen-friendly and Spark-Connect-compatible."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.filter(
        F.regexp_extract_all(c, F.lit(_BPE_ISH_PATTERN), F.lit(0)),
        lambda x: x != "",
    )


def bpe_ish_tokenize_py(text: str) -> list[str]:
    """Pure-Python twin of :func:`bpe_ish_tokens` (same regex, same
    no-empties semantics) — the deterministic in-sandbox fallback for the
    pluggable tokenizer seam, asserted equal to the Column path in
    tests/test_text_tokens.py."""
    import re

    # re.ASCII pins \s (and friends) to ASCII, matching Java regex
    # semantics — without it NBSP/ideographic spaces are \s in Python but
    # punctuation in Spark, silently mixing two token-count definitions
    return [
        t
        for t in re.findall(_BPE_ISH_PATTERN, text or "", flags=re.ASCII)
        if t
    ]


def auto_tokenizer():
    """``str -> list[str]`` tokenizer that probes for a REAL BPE
    implementation in the process that EXECUTES it — on a cluster that is
    the worker, not the driver (the operators/multimodal.py
    auto_image_decoder pattern: a driver-side probe would pickle the
    wrong branch when driver and executor images differ). Preference
    order: ``tiktoken`` (GPT BPE), then ``transformers``' GPT-2 fast
    tokenizer; in this sandbox neither exists, so it falls back to
    :func:`bpe_ish_tokenize_py` — deterministic, SQL-twin-reproducible,
    so registered-query oracles are unchanged. The probe resolves once
    per process via a pid-keyed memo (pickled memo state from another
    process is ignored). On a heterogeneous cluster pin ``tokenize_fn``
    explicitly, or token counts would silently mix vocabularies."""
    resolved: dict[int, object] = {}

    def tokenize(text: str) -> list[str]:
        import os

        pid = os.getpid()
        fn = resolved.get(pid)
        if fn is None:
            try:
                import tiktoken

                enc = tiktoken.get_encoding("gpt2")
                fn = lambda s: [  # noqa: E731
                    str(t) for t in enc.encode(s or "")
                ]
            except ImportError:
                try:
                    from transformers import GPT2TokenizerFast

                    tok = GPT2TokenizerFast.from_pretrained("gpt2")
                    fn = lambda s: tok.tokenize(s or "")  # noqa: E731
                except ImportError:
                    fn = bpe_ish_tokenize_py
            resolved.clear()  # drop stale pids from other processes
            resolved[pid] = fn
        return fn(text)

    return tokenize


def count_tokens(
    df: DataFrame,
    *,
    text_col: str = "text",
    out_col: str = "n_tokens",
    tokenize_fn=None,
) -> DataFrame:
    """Append a REAL-tokenizer token count — the production seam behind
    every "N tokens" knob (token_budget_cap, pack_sequences,
    docs_token_budget / docs_pack_sequences): those operators take the
    count as a column, so swapping vocabularies is swapping this one
    upstream call. ``tokenize_fn: str -> list[str]`` defaults to
    :func:`auto_tokenizer` (worker-side probe, deterministic fallback).

    Arrow-batched pandas UDF — the tokenizer is Python (that is the point
    of the seam), so this is the 10-100x-over-row-UDF path, map-only, no
    shuffle. The in-engine Column twin (F.size over bpe_ish_tokens)
    stays the hot path when the regex approximation is acceptable."""
    from pyspark.sql.functions import pandas_udf

    fn = tokenize_fn or auto_tokenizer()

    @pandas_udf("long")
    def _count(s):  # pd.Series -> pd.Series
        return s.map(lambda t: len(fn(t)))

    return df.withColumn(out_col, _count(F.col(text_col)))


def train_bpe_merges(
    texts: "list[str]", *, n_merges: int
) -> "list[tuple[str, str]]":
    """Deterministic byte-pair-encoding TRAINING (classic Sennrich
    algorithm): pre-tokenize with :func:`bpe_ish_tokenize_py`, count word
    frequencies, then repeatedly merge the most frequent adjacent symbol
    pair (ties broken lexicographically ascending — same corpus, same
    merges, on any machine). Pure Python, driver/offline-sized: training
    runs ONCE over a sample and the merges file ships as data; at 100 TB
    the sample is a deterministic hash-gated slice (operators.corpus
    sample_deterministic), never the full corpus."""
    from collections import Counter

    vocab: Counter = Counter()
    for t in texts:
        for w in bpe_ish_tokenize_py(t):
            vocab[tuple(w)] += 1
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pair_counts: Counter = Counter()
        for syms, freq in vocab.items():
            for i in range(len(syms) - 1):
                pair_counts[(syms[i], syms[i + 1])] += freq
        if not pair_counts:
            break
        best = min(pair_counts, key=lambda p: (-pair_counts[p], p))
        merges.append(best)
        vocab = Counter(
            {_merge_word(syms, best): f for syms, f in vocab.items()}
        )
    return merges


def _merge_word(
    syms: "tuple[str, ...]", pair: "tuple[str, str]"
) -> "tuple[str, ...]":
    """Merge every left-to-right non-overlapping occurrence of ``pair``."""
    x, y = pair
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i < len(syms) - 1 and syms[i] == x and syms[i + 1] == y:
            out.append(x + y)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return tuple(out)


def load_bpe_merges(path: str) -> "list[tuple[str, str]]":
    """Read a merges file (one ``x<TAB>y`` per line, rank = line order) —
    vocabulary as DATA, the explicit-schema discipline applied to the
    tokenizer (reference: pyspark_skript/pyspark_script.py:57-61 pins
    schemas instead of inferring; we pin the vocabulary instead of
    probing)."""
    merges = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.rstrip("\n")
            if not line:
                continue
            x, y = line.split("\t")
            merges.append((x, y))
    return merges


def make_bpe_tokenizer(merges: "list[tuple[str, str]]"):
    """``str -> list[str]`` REAL merge-loop BPE for the
    :func:`count_tokens` seam: pre-tokenize (same regex as the fallback),
    then per word repeatedly merge the LOWEST-RANK adjacent pair present
    (all left-to-right occurrences per round) until none applies — the
    canonical GPT-2 ``bpe()`` loop. A per-word memo makes the cost
    vocabulary-bounded, not corpus-bounded (natural-language word
    frequency is Zipfian; the memo hit rate is the point).

    SELF-CONTAINED BY VALUE: everything the closure touches is a local
    (the ranks dict, the pre-tokenizer regex string, the nested merge
    helper) — cloudpickle ships it whole, so the worker needs neither
    this package on its sys.path nor the driver's cwd. Module-level
    helpers pickle by REFERENCE and die with ModuleNotFoundError the
    moment the driver runs outside the repo root (found driving a
    vanilla session from /tmp)."""
    import re

    ranks = {pair: i for i, pair in enumerate(merges)}
    # compiled ONCE; regex pattern objects pickle by value (the pattern
    # string), so the worker re-compiles on unpickle, not per call
    rx = re.compile(_BPE_ISH_PATTERN, flags=re.ASCII)

    def tokenize(text: str) -> "list[str]":
        def merge(syms, x, y):
            out = []
            i = 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == x and syms[i + 1] == y:
                    out.append(x + y)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            return tuple(out)

        def bpe_word(word):
            syms = tuple(word)
            while len(syms) > 1:
                best = None
                for i in range(len(syms) - 1):
                    r = ranks.get((syms[i], syms[i + 1]))
                    if r is not None and (best is None or r < best[0]):
                        best = (r, syms[i], syms[i + 1])
                if best is None:
                    break
                syms = merge(syms, best[1], best[2])
            return syms

        out: list[str] = []
        for w in rx.findall(text or ""):
            if not w:
                continue
            got = _BPE_CACHE.get(w)
            if got is None:
                if len(_BPE_CACHE) >= 1_000_000:
                    # natural-language vocabulary is Zipf-bounded, but an
                    # adversarial corpus (random strings) is not — bound
                    # worker memory; a full reset keeps the hot head
                    # re-warming instantly
                    _BPE_CACHE.clear()
                got = bpe_word(w)
                _BPE_CACHE[w] = got
            out.extend(got)
        return out

    # the memo is a closure-local dict: it pickles EMPTY by value (the
    # driver-side copy never ships its contents) and warms per worker
    # task, which is where the repeated words are anyway
    _BPE_CACHE: dict = {}

    return tokenize


def quality_features(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """Append per-doc quality heuristics: token counts, distinct-token
    ratio, mean token length, and a composite [0,1] quality score. Integer
    arithmetic + one final division => bit-identical across engines."""
    toks = tokens(F.col(text_col))
    n_tok = F.size(toks)
    n_uniq = F.size(F.array_distinct(toks))
    sum_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    # zero-token docs (empty/whitespace text): ratios are undefined, so
    # they surface as NULL — which FAILS any >= threshold quality gate,
    # exactly what an empty document deserves (ANSI mode would otherwise
    # raise DIVIDE_BY_ZERO here)
    uniq_ratio = F.when(n_tok > 0, n_uniq.cast("double") / n_tok)
    return (
        df.withColumn("n_tokens", n_tok)
        .withColumn("n_uniq_tokens", n_uniq)
        .withColumn("uniq_ratio", F.round(uniq_ratio, 4))
        .withColumn(
            "avg_token_len",
            F.round(F.when(n_tok > 0, sum_len.cast("double") / n_tok), 4),
        )
        .withColumn(
            "quality_score",
            F.round(
                F.least(n_tok.cast("double") / 100.0, F.lit(1.0)) * 0.5
                + uniq_ratio * 0.5,
                4,
            ),
        )
    )


def language_id(df: DataFrame, *, text_col: str = "text", out_col: str = "lang_pred") -> DataFrame:
    """Stopword-voting language ID: score per language = number of that
    language's stopwords present as tokens; argmax wins, 'und' (undetermined)
    when all scores are zero. Deterministic tie-break by language code.

    Expressed as array ops over a literal lexicon — at scale this is a
    map-only pass (no shuffle, no UDF)."""
    toks = F.array_distinct(tokens(F.col(text_col)))
    scores = []
    for lang in sorted(_STOPWORDS):
        lex = F.array(*[F.lit(w) for w in _STOPWORDS[lang]])
        scores.append(
            F.struct(
                (-F.size(F.array_intersect(toks, lex))).alias("neg_score"),
                F.lit(lang).alias("lang"),
            )
        )
    # array_min on struct orders by (neg_score, lang): highest score wins,
    # and score ties resolve to the lexicographically SMALLEST lang (a<z)
    best = F.array_min(F.array(*scores))
    return df.withColumn(
        out_col,
        F.when(best.getField("neg_score") < 0, best.getField("lang")).otherwise(
            "und"
        ),
    )


def dedup_sentences(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "text_dedup",
) -> DataFrame:
    """Intra-document exact sentence dedup (the line-dedup pass every web
    corpus gets: boilerplate sentences repeat WITHIN a page). Splits on
    sentence boundaries, keeps the FIRST occurrence of each distinct
    sentence, and reassembles in original order. Returns
    (id, out_col, n_sentences, n_removed) with ONE ROW PER INPUT DOC —
    a document whose text is empty (or splits to nothing) comes back as
    ('', 0, 0), not silently missing (a pipeline joining this output
    back to the corpus must not lose rows).

    Shape: posexplode (codegen Generate) -> one hash-agg on
    (doc, sentence) taking min position -> one agg back per doc with an
    in-group array_sort -> a doc-keyed left join restoring empty docs.
    Everything partitions by doc id; no windows over the whole corpus,
    no Python."""
    sents = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), r"\.\s+")).alias(
            "__pos", "__sent"
        ),
    ).filter(F.col("__sent") != "")
    firsts = sents.groupBy(id_col, "__sent").agg(
        F.min("__pos").alias("__pos"), F.count(F.lit(1)).alias("__n")
    )
    rebuilt = firsts.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__sent"))),
                lambda s: s.getField("__sent"),
            ),
            ". ",
        ).alias(out_col),
        F.sum("__n").cast("long").alias("n_sentences"),
        (F.sum("__n") - F.count(F.lit(1))).cast("long").alias("n_removed"),
    )
    return df.select(id_col).join(rebuilt, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col(out_col), F.lit("")).alias(out_col),
        F.coalesce(F.col("n_sentences"), F.lit(0)).cast("long").alias(
            "n_sentences"
        ),
        F.coalesce(F.col("n_removed"), F.lit(0)).cast("long").alias(
            "n_removed"
        ),
    )


def bigram_surprisal(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    smoothing_k: float = 1.0,
) -> DataFrame:
    """Self-trained bigram language-model surprisal per document — the
    classic model-based quality score (boilerplate and gibberish both land
    far from the corpus average). Returns (id, n_bigrams, avg_bits) where
    ``avg_bits`` = mean -log2 P(w_i | w_{i-1}) under an add-k-smoothed
    bigram model fit on the corpus itself.

    All relational: tokenize (codegen split), one window per doc for bigram
    formation, two hash-aggs for the model counts (map-side partials), two
    shuffled joins to score, one final per-doc agg. The model tables are
    token-bounded — at 100 TB the bigram table is the natural broadcast /
    bucketed-join candidate, and the vocab size is one scalar cross join,
    never a collect."""
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col), F.posexplode(tokens(F.col(text_col))).alias("__pos", "__tok")
    ).filter(F.col("__tok") != "")
    w = Window.partitionBy(id_col).orderBy("__pos")
    bigrams = toks.select(
        F.col(id_col),
        F.lag("__tok").over(w).alias("__prev"),
        F.col("__tok").alias("__cur"),
    ).filter(F.col("__prev").isNotNull())
    bigram_counts = bigrams.groupBy("__prev", "__cur").agg(
        F.count(F.lit(1)).alias("__cb")
    )
    prefix_counts = bigrams.groupBy("__prev").agg(
        F.count(F.lit(1)).alias("__cp")
    )
    vocab = toks.agg(F.countDistinct("__tok").alias("__vocab"))
    scored = (
        bigrams.join(bigram_counts, ["__prev", "__cur"])
        .join(prefix_counts, "__prev")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "__bits",
            -F.log2(
                (F.col("__cb") + F.lit(smoothing_k))
                / (F.col("__cp") + F.lit(smoothing_k) * F.col("__vocab"))
            ),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("__bits"), 4).alias("avg_bits"),
    )
    # keep docs with < 2 tokens (no bigrams): exactly the degenerate
    # documents a quality score exists to flag must not silently escape
    # scoring — they come back as (0, NULL avg_bits)
    return df.select(id_col).join(per_doc, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long").alias(
            "n_bigrams"
        ),
        F.col("avg_bits"),
    )


def tfidf_top_terms(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Per-document top-k keyword extraction by smoothed TF-IDF
    (sklearn-style ``idf = ln((N+1)/(df+1)) + 1``). Returns
    (id, term, tfidf) with at most ``k`` rows per document, ranked by
    score descending with the term as deterministic tie-break.

    Scale shape: tokenize in codegen, ONE hash-agg for term frequencies,
    then the document-frequency table is derived from that same agg (term
    cardinality is vocabulary-bounded, so its join back is the natural
    broadcast candidate at corpus scale); corpus size N is a scalar cross
    join, never a driver collect. The final top-k window partitions by
    document — no global sort. Scores are rounded to 6 decimals BEFORE
    ranking so Spark and any libm-different engine order identically."""
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("__term")
    ).filter(F.col("__term") != "")
    tf = toks.groupBy(id_col, "__term").agg(F.count(F.lit(1)).alias("__tf"))
    dft = tf.groupBy("__term").agg(F.count(F.lit(1)).alias("__df"))
    # corpus size as a map-only count of docs with >=1 token (ids are
    # unique) — cheaper than countDistinct over the exploded stream
    n_docs = df.agg(
        F.count(
            F.when(
                F.size(tokens(F.col(text_col)))
                > 0,
                1,
            )
        ).alias("__n")
    )
    scored = (
        tf.join(dft, "__term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("__tf")
                * (
                    F.log((F.col("__n") + 1.0) / (F.col("__df") + 1.0))
                    + 1.0
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("__term")
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(id_col, F.col("__term").alias("term"), "tfidf")
    )


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.5,
    b: float = 0.75,
    k: int = 20,
) -> DataFrame:
    """Okapi BM25 keyword search: score every document against a literal
    query-term set, return the top-k (id, score, n_hits). The relational
    complement to embedding similarity search — the same corpus, queried
    lexically.

    ``idf = ln(1 + (N - df + 0.5)/(df + 0.5))``;
    ``contrib = idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))``.

    Scale shape: the exploded token stream is filtered to the query terms
    FIRST (isin over literals — codegen, pushes to the scan side of the
    shuffle), so the per-term frequency agg touches only matching tokens.
    Document length and corpus stats (N, avgdl) are scalar/bounded frames
    (broadcast); per-doc summation goes through DECIMAL so the total is
    partition-order-independent. Final top-k is one TakeOrdered, no global
    sort."""
    # doc length as a map-only array size — no explode, no shuffle (the
    # naive explode+groupBy form costs a full extra pass over the corpus)
    query_terms = [q.lower() for q in query_terms if q and q.strip()]
    if not query_terms:
        raise ValueError("bm25_scores: query_terms must be non-empty")
    nonempty = tokens(F.col(text_col))
    dl = df.select(F.col(id_col), F.size(nonempty).alias("__dl")).filter(
        F.col("__dl") > 0
    )
    stats = dl.agg(
        F.count(F.lit(1)).alias("__n"), F.avg("__dl").alias("__avgdl")
    )
    hits = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("__term")
    ).filter(F.col("__term").isin(query_terms))
    tf = hits.groupBy(id_col, "__term").agg(F.count(F.lit(1)).alias("__tf"))
    dft = tf.groupBy("__term").agg(F.count(F.lit(1)).alias("__df"))
    contrib = (
        tf.join(F.broadcast(dft), "__term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "__idf",
            F.log(
                1.0
                + (F.col("__n") - F.col("__df") + 0.5)
                / (F.col("__df") + 0.5)
            ),
        )
        .withColumn(
            "__contrib",
            (
                F.col("__idf")
                * F.col("__tf")
                * (k1 + 1.0)
                / (
                    F.col("__tf")
                    + k1
                    * (1.0 - b + b * F.col("__dl") / F.col("__avgdl"))
                )
            ).cast("decimal(24,10)"),
        )
    )
    scored = contrib.groupBy(id_col).agg(
        F.round(F.sum("__contrib").cast("double"), 4).alias("bm25"),
        F.count(F.lit(1)).cast("long").alias("n_query_terms_hit"),
    )
    return scored.orderBy(F.col("bm25").desc(), F.col(id_col)).limit(k)


def fingerprint(
    df: DataFrame, *, text_col: str = "text", out_col: str = "fingerprint"
) -> DataFrame:
    """128-bit content fingerprint (md5 of normalized text): collapse
    whitespace + lowercase, so formatting-only variants collide — the cheap
    first pass before MinHash."""
    normalized = F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
    return df.withColumn(out_col, F.md5(F.trim(normalized)))


def rolling_hash(
    df: DataFrame,
    *,
    text_col: str = "text",
    out_col: str = "rolling_hash",
    base: int = 257,
    mod: int = 1_000_000_007,
) -> DataFrame:
    """Polynomial rolling hash over characters (Rabin-Karp style), computed
    with a single aggregate fold over the character array — demonstrates
    order-sensitive hashing without leaving the JVM."""
    chars = F.split(F.col(text_col), "")
    return df.withColumn(
        out_col,
        F.aggregate(
            chars,
            F.lit(0).cast("long"),
            lambda acc, ch: F.pmod(
                acc * base + F.ascii(ch).cast("long"), F.lit(mod)
            ),
        ),
    )


def repetition_features(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 2,
) -> DataFrame:
    """Per-document n-gram repetition statistics — the Gopher-style
    repetition filters (Rae et al. 2021, §A1.1: "fraction of characters in
    the most common n-gram" / "fraction of characters in duplicated
    n-grams", here over occurrence counts):

    * ``top{n}gram_frac`` — occurrences of the single most frequent n-gram
      over total n-gram occurrences;
    * ``dup{n}gram_frac`` — fraction of n-gram occurrences whose gram
      appears more than once.

    Shape: codegen shingle explode (operators/dedup.shingle_rows — NOT an
    interpreted array HOF, the measured 100x cliff) -> one hash aggregate
    on (id, gram) -> one on id, both with map-side partial aggregation, so
    only (id, gram, count) rows cross the first shuffle and (id, 3 longs)
    the second. Integer counts + one final division = bit-identical across
    engines, hence SQL-oracle-able."""
    from .dedup import shingle_rows

    counts = (
        shingle_rows(df, id_col=id_col, text_col=text_col, k=ngram)
        .groupBy(id_col, "shingle")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    per_doc = counts.groupBy(id_col).agg(
        F.sum("__n").alias("__total"),
        F.max("__n").alias("__mx"),
        F.sum(F.when(F.col("__n") > 1, F.col("__n")).otherwise(0)).alias(
            "__dup"
        ),
    )
    return per_doc.select(
        F.col(id_col),
        F.col("__total").cast("long").alias(f"n_{ngram}grams"),
        F.round(
            F.col("__mx").cast("double") / F.col("__total"), 4
        ).alias(f"top{ngram}gram_frac"),
        F.round(
            F.col("__dup").cast("double") / F.col("__total"), 4
        ).alias(f"dup{ngram}gram_frac"),
    )


def remove_boilerplate_segments(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    segment_words: int = 10,
    max_doc_freq: int = 2,
    out_col: str = "text_clean",
) -> DataFrame:
    """CORPUS-WIDE segment dedup — the CCNet/RefinedWeb line-dedup pass
    that removes boilerplate repeated ACROSS documents (nav bars, cookie
    banners, license footers), as opposed to ``dedup_sentences`` which
    dedups within one document. A segment (here a fixed ``segment_words``
    word window; swap the segmenter for newline/sentence splits on real
    web text) is dropped from EVERY document when it appears in more than
    ``max_doc_freq`` distinct documents; survivors are reassembled in
    original order. Returns (id, out_col, n_segments, n_dropped) with one
    row per input document — a document that was pure boilerplate comes
    back with an empty string, not silently vanished.

    Shape at 100 TB: segmenting is a map-only transform+posexplode
    (codegen Generate); the corpus-wide document-frequency table groups on
    md5(segment) so the exact-distinct shuffle carries (16-byte hash,
    doc_id) pairs — never segment text; the DF table joins back on the
    same hash (AQE picks broadcast when the boilerplate table is small —
    it is, by Zipf); reassembly is ONE hash-agg keyed by doc id with an
    in-group array_sort. No windows over the corpus, no Python, no
    per-doc driver logic."""
    # tokenize ONCE into a bound column: with tokens() inside the
    # transform lambda the split re-evaluated per segment index —
    # O(n_segments x doc_len) work per document
    words = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__w")
    )
    segs = words.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.greatest(
                        F.ceil(
                            F.size(F.col("__w")) / F.lit(segment_words)
                        ).cast("int")
                        - 1,
                        F.lit(0),
                    ),
                ),
                lambda i: F.array_join(
                    F.slice(
                        F.col("__w"), i * segment_words + 1, segment_words
                    ),
                    " ",
                ),
            )
        ).alias("__seg_idx", "__seg"),
    ).withColumn("__h", F.md5(F.col("__seg")))
    doc_freq = segs.groupBy("__h").agg(
        F.countDistinct(id_col).alias("__df")
    )
    kept = (
        segs.join(doc_freq, "__h")
        .withColumn("__drop", F.col("__df") > max_doc_freq)
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            ~F.col("__drop"),
                            F.struct("__seg_idx", "__seg"),
                        )
                    )
                ),
                lambda s: s.getField("__seg"),
            ),
            " ",
        ).alias(out_col),
        F.count(F.lit(1)).cast("long").alias("n_segments"),
        F.sum(F.col("__drop").cast("long")).cast("long").alias("n_dropped"),
    )
    # A NULL-text doc yields NULL __w, hence zero posexplode rows, so it
    # has no group in `rebuilt` — left-join back onto the full id set (as
    # dedup_sentences does) so the promised one-row-per-input-document
    # contract holds for degenerate docs too.
    return (
        df.select(id_col)
        .join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col(out_col), F.lit("")).alias(out_col),
            F.coalesce(F.col("n_segments"), F.lit(0).cast("long")).alias(
                "n_segments"
            ),
            F.coalesce(F.col("n_dropped"), F.lit(0).cast("long")).alias(
                "n_dropped"
            ),
        )
    )


def normalize_text(
    df: DataFrame,
    *,
    text_col: str = "text",
    out_col: str = "text_norm",
    lowercase: bool = True,
) -> DataFrame:
    """C4/CCNet-style text normalization — the canonicalization pass run
    BEFORE any hashing/shingling so that near-identical pages dedup
    together: unify curly quotes and long dashes to ASCII, strip control
    characters, collapse whitespace runs, trim, and (optionally)
    lowercase. Returns the input plus (out_col, n_chars_raw,
    n_chars_norm). Unicode NFC/NFKC folding needs ICU and stays an
    upstream concern; every rule here is a plain regex/translate both
    engines implement identically, so the op is SQL-oracle-able.

    Map-only projection — fuses into the scan stage, no shuffle."""
    c = F.col(text_col)
    # char-for-char: ‘ ’ -> ', “ ” -> ", – — -> -, NBSP -> space
    norm = F.translate(c, "‘’“”–— ", "''\"\"-- ")
    norm = F.regexp_replace(norm, r"[\x00-\x1F\x7F]", " ")
    norm = F.regexp_replace(norm, r"\s+", " ")
    norm = F.trim(norm)
    if lowercase:
        norm = F.lower(norm)
    return df.withColumn(out_col, norm).withColumn(
        "n_chars_raw", F.length(c).cast("long")
    ).withColumn("n_chars_norm", F.length(F.col(out_col)).cast("long"))


def _md5_bucket(col: Column, mod: int) -> Column:
    """Engine-portable hash bucket: lower-60-bit md5 mod ``mod`` — the
    same arithmetic family as the Bloom positions and the md5 sampling
    gates, so a DuckDB oracle reproduces bucket assignment bit-exactly.
    (xxhash64 is the faster JVM-only alternative once differentially
    proven, as dedup_simhash does.)"""
    m = F.md5(col)
    le = F.concat(*[F.substring(m, 31 - 2 * j, 2) for j in range(8)])
    return F.conv(F.substring(le, 2, 15), 16, 10).cast("long") % mod


def hashed_doc_vectors(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 4096,
    max_posting: int | None = None,
) -> DataFrame:
    """Hashing-trick bag-of-words as SPARSE ROWS: (id, idx, c) term
    counts bucketed into ``dim`` hash slots, plus a ``norm2_sum``
    column (the doc's squared L2 norm, repeated per row) — the inverted-
    index layout sparse similarity joins on. Everything relational: one
    token explode, one (id, idx) hash-agg, one id-keyed window for the
    norm; no vocabulary table, no model, no UDF.

    ``max_posting`` drops hash slots whose posting list exceeds the cap
    BEFORE any pairing (classic document-frequency pruning, the
    stopword-slot skew guard — the LSH max_bucket discipline applied to
    the inverted index). NOTE: unlike the Bloom/LSH guards this changes
    scores (capped slots stop contributing); the registered query runs
    uncapped so the oracle is exact, and the cap's zero-collateral case
    is asserted in tests."""
    if dim & (dim - 1):
        raise ValueError(
            f"dim must be a power of two for the engine-portable "
            f"two-step mod, got {dim}"
        )
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.col(text_col))).alias("__tok"),
    )
    counts = (
        toks.select("id", _md5_bucket(F.col("__tok"), dim).alias("idx"))
        .groupBy("id", "idx")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    if max_posting is not None:
        w_df = Window.partitionBy("idx")
        counts = counts.withColumn(
            "__df", F.count(F.lit(1)).over(w_df)
        ).filter(F.col("__df") <= max_posting).drop("__df")
    w = Window.partitionBy("id")
    return counts.withColumn(
        "norm2_sum", F.sum(F.col("c") * F.col("c")).over(w)
    )
