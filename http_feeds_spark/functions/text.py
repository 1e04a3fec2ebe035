"""Text-analysis functions for the documents corpus.

Everything here is built-in-expression based (split / transform /
regexp_*), engine-exact against DuckDB equivalents where an oracle exists.
Per-row O(len) work: scan-parallel, shuffle-free.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# BPE-ish tokenizer: letter runs, digit runs, single punctuation marks.
# ASCII-safe so Java and RE2-style regex dialects agree.
TOKEN_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"

# Marker stopwords per language for the lang-id heuristic. The priority
# order below breaks score ties deterministically.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "a"],
    "de": ["der", "und", "das", "ein"],
    "es": ["el", "y", "los", "una"],
    "fr": ["le", "et", "les", "une"],
    "zh": ["de5", "he2", "shi4", "zai4"],  # romanized placeholders
}
LANG_PRIORITY = ["en", "de", "es", "fr", "zh"]


def words(col) -> Column:
    """RAW single-space tokens — empties included when the text has
    leading/trailing/consecutive spaces. Kept verbatim because the
    word-count family (textstats, datacard, monitor, drift, substr,
    chunking, boilerplate) pins DuckDB oracles on exactly
    ``string_split(text, ' ')``; the retrieval/dedup family uses
    :func:`analyze` instead, which never emits empty tokens."""
    col = F.col(col) if isinstance(col, str) else col
    return F.split(col, " ")


# Shared analyzers for the retrieval/dedup text family. "standard" is
# the real-text default: lowercase, split on Unicode non-alphanumeric
# runs, drop empties — so `"Word."` and `"word"` index identically and
# consecutive whitespace never mints empty tokens. "whitespace" is the
# legacy single-space split (no lowercasing — the pre-analyzer text
# INDEX behavior); "whitespace_lower" lowercases first (the pre-analyzer
# DEDUP-family behavior — llm.tokenized / streaming dedup shingles).
# Every analyzer drops empties, so tokens-counted ≡ tokens-posted
# under all of them (dl and the postings always agree).
# "standard_porter" (r10) = standard tokenization, then the FIXED
# English stopword set below is dropped and every surviving token is
# Porter-stemmed (Porter 1980 — public domain) — so inflected forms
# ("running", "runs") index and query as one term. The name FULLY
# determines behavior (fixed stopword list, exact algorithm), which is
# what the index-meta conformance machinery requires: recording the
# analyzer string is recording the whole analysis chain.
ANALYZERS = ("standard", "whitespace", "whitespace_lower", "standard_porter")

# the fixed standard_porter stopword set — the classic minimal English
# function-word list (Lucene's EnglishAnalyzer default, public domain)
STOPWORDS = frozenset(
    "a an and are as at be but by for if in into is it no not of on or "
    "such that the their then there these they this to was will with".split()
)

# Java-regex Unicode classes; DuckDB/RE2 accepts the same pattern, and
# the pure-Python twin below matches via str.isalnum() (L* ∪ N* in both).
STANDARD_TOKEN_RE = r"[\p{L}\p{N}]+"


def _require_analyzer(analyzer: str) -> str:
    if analyzer not in ANALYZERS:
        raise ValueError(f"unknown analyzer {analyzer!r}; one of {ANALYZERS}")
    return analyzer


import functools


@functools.lru_cache(maxsize=1 << 16)
def porter_stem(word: str) -> str:
    """The Porter stemming algorithm (M.F. Porter, 'An algorithm for
    suffix stripping', Program 14(3), 1980 — public domain), implemented
    from the paper's step tables. Input must be lowercase; words of
    length ≤ 2 return unchanged (the paper's convention).

    lru_cached: a pure word→stem function over Zipf-distributed text
    hits the same heads millions of times — the cache turns an index
    build from re-stemming every occurrence into one stem per DISTINCT
    word per worker process (the analyze+explode pass over the 2000-doc
    bench corpus runs warm in ~0.6 s)."""
    if len(word) <= 2:
        return word

    def cons(w: str, i: int) -> bool:
        c = w[i]
        if c in "aeiou":
            return False
        if c == "y":
            return i == 0 or not cons(w, i - 1)
        return True

    def measure(stem: str) -> int:
        m, i, n = 0, 0, len(stem)
        while i < n and cons(stem, i):
            i += 1
        while i < n:
            while i < n and not cons(stem, i):
                i += 1
            if i >= n:
                break
            m += 1
            while i < n and cons(stem, i):
                i += 1
        return m

    def has_vowel(stem: str) -> bool:
        return any(not cons(stem, i) for i in range(len(stem)))

    def double_cons(w: str) -> bool:
        return len(w) >= 2 and w[-1] == w[-2] and cons(w, len(w) - 1)

    def cvc(w: str) -> bool:
        return (
            len(w) >= 3
            and cons(w, len(w) - 3)
            and not cons(w, len(w) - 2)
            and cons(w, len(w) - 1)
            and w[-1] not in "wxy"
        )

    w = word
    # step 1a
    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith("ies"):
        w = w[:-2]
    elif not w.endswith("ss") and w.endswith("s"):
        w = w[:-1]
    # step 1b
    flag = False
    if w.endswith("eed"):
        if measure(w[:-3]) > 0:
            w = w[:-1]
    elif w.endswith("ed") and has_vowel(w[:-2]):
        w, flag = w[:-2], True
    elif w.endswith("ing") and has_vowel(w[:-3]):
        w, flag = w[:-3], True
    if flag:
        if w.endswith(("at", "bl", "iz")):
            w += "e"
        elif double_cons(w) and w[-1] not in "lsz":
            w = w[:-1]
        elif measure(w) == 1 and cvc(w):
            w += "e"
    # step 1c
    if w.endswith("y") and has_vowel(w[:-1]):
        w = w[:-1] + "i"
    # steps 2-4: (suffix -> replacement) applied when measure(stem)
    # clears the step's threshold; longest-match within each step via
    # table order (the paper's tables are prefix-free per final letter)
    for table, thresh in (
        (
            (
                ("ational", "ate"), ("tional", "tion"), ("enci", "ence"),
                ("anci", "ance"), ("izer", "ize"), ("abli", "able"),
                ("alli", "al"), ("entli", "ent"), ("eli", "e"),
                ("ousli", "ous"), ("ization", "ize"), ("ation", "ate"),
                ("ator", "ate"), ("alism", "al"), ("iveness", "ive"),
                ("fulness", "ful"), ("ousness", "ous"), ("aliti", "al"),
                ("iviti", "ive"), ("biliti", "ble"),
            ),
            0,
        ),
        (
            (
                ("icate", "ic"), ("ative", ""), ("alize", "al"),
                ("iciti", "ic"), ("ical", "ic"), ("ful", ""), ("ness", ""),
            ),
            0,
        ),
    ):
        for suf, rep in table:
            if w.endswith(suf):
                stem = w[: -len(suf)]
                if measure(stem) > thresh:
                    w = stem + rep
                break
    # step 4 (m > 1): strip the derivational tail
    for suf in (
        "al", "ance", "ence", "er", "ic", "able", "ible", "ant",
        "ement", "ment", "ent", "ion", "ou", "ism", "ate", "iti",
        "ous", "ive", "ize",
    ):
        if w.endswith(suf):
            stem = w[: -len(suf)]
            if measure(stem) > 1 and (suf != "ion" or stem[-1:] in ("s", "t")):
                w = stem
            break
    # step 5a
    if w.endswith("e"):
        m = measure(w[:-1])
        if m > 1 or (m == 1 and not cvc(w[:-1])):
            w = w[:-1]
    # step 5b
    if measure(w) > 1 and double_cons(w) and w.endswith("l"):
        w = w[:-1]
    return w


def _porter_terms(tokens) -> list[str]:
    """standard_porter's post-tokenization chain: drop the fixed
    stopword set, stem the survivors."""
    return [porter_stem(t) for t in tokens if t not in STOPWORDS]


def analyze(col, analyzer: str = "standard") -> Column:
    """Tokenize ``col`` under the named analyzer — the ONE tokenization
    the whole retrieval/dedup family shares (posting build, query side,
    shingles, AND document length), so idf/avgdl/dl/postings can never
    disagree about what a token is.

    Deliberately ONE plain expression (``regexp_extract_all`` of token
    runs — extracting tokens can never mint empties, so no filter pass
    is needed), NOT a split + higher-order ``filter``: an HOF expression
    inlined into a consumer's own HOF lambda (shingling's per-element
    ``element_at(tokens, …)``) re-evaluates PER ELEMENT — Spark does not
    CSE across lambda boundaries — which measured as a 6× blowup of the
    decontamination stage at sf0.1. Scan-parallel, codegen'd,
    shuffle-free, and ~25% cheaper than split+filter even standalone.

    The one exception is ``standard_porter`` (r10): stemming is not a
    regex, so its post-tokenization chain runs as an Arrow-batched
    pandas UDF over the codegen'd standard tokens — the documented
    retrieval-quality-for-Python-worker trade, paid once at index build
    and query time, never inside another operator's lambda (the UDF is
    a black box to Catalyst, so it CANNOT be inlined/re-evaluated the
    way expression trees are)."""
    _require_analyzer(analyzer)
    col = F.col(col) if isinstance(col, str) else col
    if analyzer == "standard":
        return F.regexp_extract_all(F.lower(col), F.lit(STANDARD_TOKEN_RE), F.lit(0))
    if analyzer == "standard_porter":
        base = F.regexp_extract_all(F.lower(col), F.lit(STANDARD_TOKEN_RE), F.lit(0))
        return _porter_terms_udf()(base)
    if analyzer == "whitespace_lower":
        return F.regexp_extract_all(F.lower(col), F.lit("[^ ]+"), F.lit(0))
    return F.regexp_extract_all(col, F.lit("[^ ]+"), F.lit(0))


def _porter_terms_udf():
    """The Arrow-batched stem/stopword stage (built lazily so importing
    this module never touches the UDF machinery)."""
    import pandas as pd

    def stem_terms(tokens):
        return tokens.map(lambda ts: _porter_terms(list(ts)))

    # real type objects, not strings: the module's `from __future__
    # import annotations` would stringify inline hints and break
    # pandas_udf's eval-type inference
    stem_terms.__annotations__ = {"tokens": pd.Series, "return": pd.Series}
    return F.pandas_udf(stem_terms, "array<string>")


def tokenize(text: str, analyzer: str = "standard") -> list[str]:
    """Pure-Python twin of :func:`analyze` for the QUERY side (and the
    pytest references): query terms must be tokenized by the same
    analyzer the index was built with, or phrase/BM25 silently miss.
    Equivalence with the Spark expression is pinned in
    tests/test_analyzer.py (str.isalnum() covers the same L*/N* Unicode
    categories as the Java `\\p{L}\\p{N}` classes)."""
    _require_analyzer(analyzer)
    if analyzer == "whitespace":
        return [t for t in text.split(" ") if t]
    if analyzer == "whitespace_lower":
        return [t for t in text.lower().split(" ") if t]
    if analyzer == "standard_porter":
        return _porter_terms(tokenize(text, "standard"))
    out: list[str] = []
    cur: list[str] = []
    for ch in text.lower():
        if ch.isalnum():
            cur.append(ch)
        elif cur:
            out.append("".join(cur))
            cur = []
    if cur:
        out.append("".join(cur))
    return out


def tokenize_query(terms, analyzer: str = "standard") -> list[str]:
    """Normalize user-supplied query terms through the analyzer: each
    term re-tokenizes (so `"Don't"` under "standard" becomes
    `["don", "t"]`, matching how the corpus was indexed) and the flat
    in-order list comes back. Accepts a string or a list of strings."""
    if isinstance(terms, str):
        terms = [terms]
    out: list[str] = []
    for t in terms:
        out.extend(tokenize(t, analyzer))
    return out


def word_shingles(tokens: Column, n: int = 3) -> Column:
    """Word n-gram shingles as strings; empty array when len < n."""
    idx = F.sequence(F.lit(0), F.greatest(F.size(tokens) - n, F.lit(-1)))
    return F.when(F.size(tokens) >= n,
                  F.transform(idx, lambda i: F.concat_ws(" ", *[F.element_at(tokens, i + j + 1) for j in range(n)]))
                  ).otherwise(F.array().cast("array<string>"))


def hashed_word_shingles(tokens: Column, n: int = 3) -> Column:
    """Word n-gram shingles hashed DIRECTLY to 64-bit longs: xxhash64
    over the n token expressions, skipping the n-gram string build —
    measured ~30% faster than concat-then-hash, and boundary-safe
    (('a b','c') no longer collides with ('a','b c')). Use when the
    shingle set is only ever consumed as a hash set (MinHash, Jaccard
    on hashes); use :func:`word_shingles` when humans read the output."""
    idx = F.sequence(F.lit(0), F.greatest(F.size(tokens) - n, F.lit(-1)))
    return F.when(
        F.size(tokens) >= n,
        F.transform(idx, lambda i: F.xxhash64(*[F.element_at(tokens, i + j + 1) for j in range(n)])),
    ).otherwise(F.array().cast("array<bigint>"))


def marker_score(tokens: Column, markers: list[str]) -> Column:
    """How many tokens (with multiplicity) are in the marker list."""
    return F.size(F.filter(tokens, lambda t: t.isin(*markers)))


def add_repetition_stats(
    df,
    text_col: str = "text",
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 10),
    explode_over_tokens: int | None = None,
    id_col: str = "doc_id",
):
    """Gopher/MassiveText repetition signals (Rae et al. 2021, Table A1)
    as per-row columns:

    - ``top_{n}gram_frac`` (n ∈ top_ns): fraction of characters covered
      by the MOST FREQUENT word n-gram — count(top) × len(top) /
      len(text); ties on count break by gram length then gram text
      (struct max is lexicographic by field order — deterministic).
    - ``dup_{n}gram_frac`` (n ∈ dup_ns): fraction of characters covered
      by DUPLICATED n-grams — Σ over distinct grams occurring ≥ 2 times
      of count × len(gram), / len(text), capped at 1.0 (reproductions
      vary in overlap accounting; overlapping occurrences each count
      here, hence the cap — the definition tests pin).

    DataFrame-level like :func:`add_winnow_fingerprints`, and for the
    same reason: the gram array and its distinct set are materialized as
    columns ONCE per row, because Spark does not CSE across
    higher-order-function boundaries — nesting `word_shingles(...)`
    inside the per-distinct-gram lambda would rebuild the whole array
    per element (the measured >100× trap).

    Cost: per-row O(G·D) count lookups (G grams × D distinct) — pure
    scan-parallel expressions, shuffle-free, whole-stage codegen.
    Quadratic in DOC length only: right for web-doc corpora (G in the
    hundreds). For book-length docs pass ``explode_over_tokens=T``:
    rows with more than T whitespace tokens run through the EXPLODED
    groupBy((doc, gram)) form instead (one shuffle, O(G) rows/doc —
    :func:`_repetition_stats_exploded`, value-identical by pinned
    equivalence in tests/test_repetition.py), short rows keep the
    shuffle-free path, and the two halves union. The r15 A/B in
    BASELINE.md measured the crossover near ~250-500 tokens/doc at
    fixed corpus size on the bench box (the exploded form is flat in
    doc length; the per-row form doubles per doubling), so ~512 is a
    sound threshold for mixed corpora — the per-row default remains
    right for short-doc web corpora like the driver tables, where the
    whole corpus sits below the crossover and the exploded form's
    shuffle+join floor dominates. The dispatch needs ``id_col`` to be
    row-unique."""
    if explode_over_tokens is not None:
        n_toks = F.size(words(text_col))
        short = add_repetition_stats(
            df.where(n_toks <= explode_over_tokens), text_col, top_ns, dup_ns
        )
        long_ = _repetition_stats_exploded(
            df.where(n_toks > explode_over_tokens), text_col, top_ns, dup_ns, id_col
        )
        return short.unionByName(long_)
    text = F.col(text_col)
    df = df.withColumn("__rep_toks", words(text_col))
    drop = ["__rep_toks"]
    for n in sorted(set(top_ns) | set(dup_ns)):
        df = df.withColumn(f"__g{n}", word_shingles(F.col("__rep_toks"), n))
        g = F.col(f"__g{n}")
        # one (count, len, gram) struct per DISTINCT gram, materialized so
        # the O(G) filter runs once per distinct, shared by both signals
        df = df.withColumn(
            f"__c{n}",
            F.transform(
                F.array_distinct(g),
                # NB: the inner lambda must stay single-parameter — a
                # second (defaulted) param would make PySpark pass the
                # ARRAY INDEX as its value (the (element, index) form)
                lambda x: F.struct(
                    F.size(F.filter(g, lambda y: y == x)).alias("c"),
                    F.length(x).alias("l"),
                    x.alias("g"),
                ),
            ),
        )
        counts = F.col(f"__c{n}")
        drop += [f"__g{n}", f"__c{n}"]
        if n in top_ns:
            top = F.array_max(counts)
            df = df.withColumn(
                f"top_{n}gram_frac",
                F.when(
                    F.size(g) > 0,
                    F.round((top["c"] * top["l"]).cast("double") / F.length(text), 9),
                ).otherwise(F.lit(0.0)),
            )
        if n in dup_ns:
            dup_chars = F.aggregate(
                counts,
                F.lit(0).cast("long"),
                lambda acc, s: acc
                + F.when(s["c"] >= 2, (s["c"] * s["l"]).cast("long")).otherwise(
                    F.lit(0).cast("long")
                ),
            )
            df = df.withColumn(
                f"dup_{n}gram_frac",
                F.when(
                    F.size(g) > 0,
                    F.round(
                        F.least(dup_chars.cast("double") / F.length(text), F.lit(1.0)),
                        9,
                    ),
                ).otherwise(F.lit(0.0)),
            )
    return df.drop(*drop)


def _repetition_stats_exploded(
    df,
    text_col: str,
    top_ns: tuple[int, ...],
    dup_ns: tuple[int, ...],
    id_col: str,
):
    """The linear-rows twin of :func:`add_repetition_stats` for long
    documents: explode every (n, gram) to a row, count per (doc, n,
    gram) with one map-side-combined shuffle, reduce to per-(doc, n)
    top/dup aggregates, and join the fractions back onto the original
    rows. O(G) rows per doc where the per-row form is O(G·D) WORK per
    doc — a 100K-token book is ~10^5 rows here vs ~10^10 count lookups
    there. Value-identical to the per-row form (same tokenizer, same
    (count, len, gram) lexicographic tie-break, same rounding —
    equivalence pinned in tests/test_repetition.py); requires ``id_col``
    to be row-unique for the join-back."""
    text = F.col(text_col)
    ns = sorted(set(top_ns) | set(dup_ns))
    def _tag(n):
        # single-parameter lambda only: a second (defaulted) parameter
        # would make transform() pass the ARRAY INDEX as its value —
        # the same (element, index) trap the per-row form documents
        return lambda x: F.struct(F.lit(n).alias("n"), x.alias("g"))

    # explode_OUTER, not explode, and tokens as a materialized column —
    # both load-bearing (r15, measured quadratic until fixed): with a
    # plain explode Catalyst's InferFiltersFromGenerate plants
    # Filter(size(__ngs) > 0) under the Generate, and predicate pushdown
    # then substitutes the alias straight through both projections, so
    # the filter re-derives the WHOLE 5-way gram-array build from raw
    # text — with the tokenizer re-run inside every lambda element_at
    # (no CSE across higher-order-function boundaries): O(G·n·T) per row
    # in the filter alone, while the generator itself stayed linear.
    # explode_outer infers no such filter; its extra all-null row for a
    # gram-less doc flows through the aggregates to NULL and the final
    # CASE turns it into the same 0.0 fractions the per-row form emits.
    ex = (
        df.select(F.col(id_col).alias("__rid"), words(text_col).alias("__toks"))
        .withColumn(
            "__ngs",
            F.flatten(
                F.array(
                    *[
                        F.transform(word_shingles(F.col("__toks"), n), _tag(n))
                        for n in ns
                    ]
                )
            ),
        )
        .select("__rid", F.explode_outer("__ngs").alias("__ng"))
        .select("__rid", F.col("__ng.n").alias("__n"), F.col("__ng.g").alias("__g"))
    )
    counts = ex.groupBy("__rid", "__n", "__g").agg(F.count("*").alias("__c"))
    per_n = counts.groupBy("__rid", "__n").agg(
        F.max(
            F.struct(
                F.col("__c").alias("c"),
                F.length("__g").alias("l"),
                F.col("__g").alias("g"),
            )
        ).alias("__top"),
        F.sum(
            F.when(F.col("__c") >= 2, F.col("__c") * F.length("__g")).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("__dupchars"),
    )
    wide = per_n.groupBy("__rid").agg(
        *[
            F.max(F.when(F.col("__n") == n, F.col("__top"))).alias(f"__top{n}")
            for n in ns
        ],
        *[
            F.max(F.when(F.col("__n") == n, F.col("__dupchars"))).alias(f"__dup{n}")
            for n in ns
        ],
    )
    out = df.join(wide, df[id_col] == wide["__rid"], "left")
    for n in ns:
        if n in top_ns:
            top = F.col(f"__top{n}")
            out = out.withColumn(
                f"top_{n}gram_frac",
                F.when(
                    top.isNotNull(),
                    F.round(
                        (top["c"] * top["l"]).cast("double") / F.length(text), 9
                    ),
                ).otherwise(F.lit(0.0)),
            )
        if n in dup_ns:
            dup = F.col(f"__dup{n}")
            out = out.withColumn(
                f"dup_{n}gram_frac",
                F.when(
                    dup.isNotNull(),
                    F.round(
                        F.least(dup.cast("double") / F.length(text), F.lit(1.0)), 9
                    ),
                ).otherwise(F.lit(0.0)),
            )
    return out.drop("__rid", *[f"__top{n}" for n in ns], *[f"__dup{n}" for n in ns])


def add_winnow_fingerprints(
    df,
    shingles_col: str,
    out_col: str = "fps",
    window: int = 4,
    key_col: str = "doc_id",
):
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03):
    hash every shingle, keep the minimum hash of each sliding window of
    `window` consecutive hashes, dedup. md5-prefix "hashes" (hex strings)
    are used so the DuckDB oracle computes the identical value — string
    min is well-defined and engine-independent.

    Shape (r9): EXPLODED rows + one keyed window, not per-row array
    algebra. The array formulation (slice-min per window over an
    md5-transform column) was quadratic AT RUNTIME: Catalyst inlines the
    hash-array expression into the per-window lambda (projections
    collapse; there is no CSE across lambda boundaries), so every window
    re-evaluated every upstream expression — G windows × G hashes × the
    tokenizer, measured as the dominant cost of the whole decontaminate
    stage. Exploding instead evaluates shingles ONCE per row in the
    generator, hashes each shingle once, takes the per-window min as a
    rows-between window function, and re-joins on ``key_col`` (must
    uniquely key ``df``'s rows — both corpus callers key by doc id).
    Cost: linear, one exchange on the key (shared by the window, the
    collect_set, and the join), which is also the 100 TB-correct shape —
    a book-length document no longer costs O(G²) anything."""
    key = F.col(key_col)
    # posexplode_OUTER (r15): the plain posexplode made Catalyst's
    # InferFiltersFromGenerate plant a size(shingles)>0 filter whose
    # alias-substituted pushdown re-derived the caller's whole
    # shingle/tokenize lineage from raw text inside per-element lambdas
    # — O(G·n·T) per row even when the caller had materialized its
    # token column. The outer variant infers no filter; the null row an
    # empty shingle array generates is dropped on the generated column,
    # restoring exact plain-posexplode semantics.
    hashed = df.select(
        key.alias("__wf_key"),
        F.posexplode_outer(F.col(shingles_col)).alias("__wf_pos", "__wf_sh"),
    ).where(F.col("__wf_sh").isNotNull()).select(
        "__wf_key",
        "__wf_pos",
        F.substring(F.md5("__wf_sh"), 1, 16).alias("__wf_h"),
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("__wf_key")
        .orderBy("__wf_pos")
        .rowsBetween(Window.currentRow, window - 1)
    )
    per_doc = Window.partitionBy("__wf_key")
    mins = (
        hashed.select(
            "__wf_key",
            "__wf_pos",
            F.min("__wf_h").over(w).alias("__wf_min"),
            F.count("*").over(per_doc).alias("__wf_g"),
        )
        # only FULL windows fingerprint (start pos <= G - window)
        .where(F.col("__wf_pos") <= F.col("__wf_g") - window)
    )
    fps = mins.groupBy("__wf_key").agg(
        F.sort_array(F.collect_set("__wf_min")).alias(out_col)
    )
    return (
        df.join(fps, key == F.col("__wf_key"), "left")
        .drop("__wf_key")
        .withColumn(
            out_col, F.coalesce(F.col(out_col), F.array().cast("array<string>"))
        )
    )


def compression_ratio(col) -> Column:
    """Per-document zlib COMPRESSION RATIO (compressed bytes / raw
    UTF-8 bytes, level 6) — the entropy-based quality signal modern
    corpus pipelines filter on (used in the FineWeb / DataComp-LM
    ablation families): machine-generated or boilerplate-repetitive
    text compresses far below natural prose, while encrypted/base64/
    random junk refuses to compress at all — so BOTH tails of the ratio
    are removal candidates, catching degenerate documents the
    word-level Gopher repetition rules miss (repetition at the
    CHARACTER level, or across scales the fixed n-gram windows skip).

    zlib is not a SQL expression, so this runs as an Arrow-batched
    pandas UDF (map-only, scan-parallel, no shuffle) — like the Porter
    tier, the documented Python-worker path. Deterministic: fixed
    zlib level, byte-exact across runs/partitions. Empty/null text
    maps to ratio 1.0 (nothing to compress ⇒ keep by default)."""
    import pandas as pd

    def ratio(texts):
        import zlib

        def one(t):
            if t is None or t == "":
                return 1.0
            raw = t.encode("utf-8")
            return len(zlib.compress(raw, 6)) / len(raw)

        return texts.map(one)

    ratio.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    c = F.col(col) if isinstance(col, str) else col
    return F.pandas_udf(ratio, "double")(c)
