"""Text-analysis operators for LLM training-data pipelines
(BASELINE.json north-star extensions; run on the driver's ``documents``
table).

All pure JVM-side expression work — tokenization, ratios, language
scoring, fingerprints — no Python UDFs, so the whole layer stays inside
whole-stage codegen and scales linearly with document count.

Determinism rules for oracle parity: token counts/ratios are integer
arithmetic; any fractional output rounds at integer scale
(functions.money.round_to rationale); fingerprints are md5 (identical
in Spark and DuckDB).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .artifacts import DOC_COLS, Kind

STOPWORDS = ("the", "a", "and", "of", "to", "in")

# tiny per-language marker lexicons for the n-gram/stopword heuristic
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and"),
    "es": ("el", "la", "los"),
    "de": ("der", "die", "und"),
    "fr": ("le", "les", "et"),
    "zh": ("de", "shi", "zai"),
}


def tokens_col(text: Column) -> Column:
    """Whitespace tokenization with empty-token stripping (empty text
    => empty array, same in both engines)."""
    return F.filter(
        F.split(F.trim(text), r"\s+"), lambda w: w != F.lit("")
    )


def text_stats(docs: DataFrame) -> DataFrame:
    """Token counting + quality scoring (length / stopword / uniqueness
    ratios) — the quality-score stage of a pretraining data pipeline."""
    toks = tokens_col(F.col("text"))
    d = docs.withColumn("toks", toks).withColumn(
        "uniq", F.array_distinct(F.col("toks"))
    )
    n = F.size("toks")
    n_uniq = F.size("uniq")
    char_sum = F.aggregate(
        F.transform(F.col("toks"), F.length),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n_stop = F.size(
        F.filter(F.col("toks"), lambda w: w.isin(*STOPWORDS))
    )
    stop_ratio = F.col("n_stopwords") / F.col("n_tokens")
    uniq_ratio = F.col("n_unique") / F.col("n_tokens")
    quality = (
        F.round((stop_ratio * 0.3 + uniq_ratio * 0.7) * 1000.0).cast("long")
        / 1000.0
    ).cast("double")
    return (
        d.select(
            "doc_id",
            "lang",
            F.length("text").cast("long").alias("char_len"),
            n.cast("long").alias("n_tokens"),
            n_uniq.cast("long").alias("n_unique"),
            char_sum.alias("char_sum"),
            n_stop.cast("long").alias("n_stopwords"),
        )
        .withColumn(
            "avg_token_len",
            F.when(
                F.col("n_tokens") > 0,
                (
                    F.round(F.col("char_sum") * 10.0 / F.col("n_tokens"))
                    .cast("long") / 10.0
                ).cast("double"),
            ),
        )
        .withColumn(
            "quality_score",
            F.when(F.col("n_tokens") > 0, quality),
        )
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """Language-ID heuristic: marker-word hit counts per language,
    argmax with a fixed priority order on ties. (The synthetic corpus
    is shared-vocabulary, so this demonstrates the operator shape; on
    real data the marker lexicons do the work.)"""
    toks = tokens_col(F.col("text"))
    d = docs.withColumn("toks", toks)
    def marker_filter(markers: tuple[str, ...]):
        # closure factory: a default-arg lambda would change the HOF
        # arity and be misread as a (value, index) lambda
        return lambda w: w.isin(*markers)

    scores = {
        lang: F.size(
            F.filter(F.col("toks"), marker_filter(markers))
        ).cast("long")
        for lang, markers in LANG_MARKERS.items()
    }
    d = d.select(
        "doc_id",
        "lang",
        *[c.alias(f"score_{lang}") for lang, c in scores.items()],
    )
    best = F.greatest(*[F.col(f"score_{lang}") for lang in LANG_MARKERS])
    pred = F.lit("und")
    # reversed() so earlier entries win ties (when-ladder order)
    for lang in reversed(list(LANG_MARKERS)):
        pred = F.when(
            (F.col(f"score_{lang}") == best) & (best > 0), F.lit(lang)
        ).otherwise(pred)
    return d.withColumn("predicted_lang", pred).withColumn(
        "is_match", (F.col("predicted_lang") == F.col("lang")).cast("boolean")
    )


# BPE-ish pre-tokenizer: letter runs | digit runs | single
# non-alphanumeric symbol — the GPT-2-style pre-tokenization shape
# (without learned merges), portable between Java regex and RE2
BPE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_count_bpe(docs: DataFrame) -> DataFrame:
    """t4: token counting both ways (whitespace + a BPE-ish regex):
    whitespace token count vs the BPE-ish pre-token count, plus
    punctuation-symbol and digit-run counts and the subword expansion
    ratio (2-decimal) — the budget/packing statistics a pretraining
    pipeline computes per document. Pure codegen regex work."""
    ws = tokens_col(F.col("text"))
    bpe = F.regexp_extract_all(F.col("text"), F.lit(BPE_PATTERN), F.lit(0))
    d = docs.withColumn("ws", ws).withColumn("bp", bpe)
    n_ws = F.size("ws").cast("long")
    n_bpe = F.size("bp").cast("long")
    n_punct = F.size(
        F.filter(F.col("bp"), lambda t: t.rlike("^[^A-Za-z0-9]$"))
    ).cast("long")
    n_digit = F.size(
        F.filter(F.col("bp"), lambda t: t.rlike("^[0-9]+$"))
    ).cast("long")
    ratio = F.when(
        n_ws > 0,
        (F.round(n_bpe * 100.0 / n_ws).cast("long") / 100.0).cast("double"),
    )
    return d.select(
        "doc_id",
        n_ws.alias("n_ws_tokens"),
        n_bpe.alias("n_bpe_tokens"),
        n_punct.alias("n_punct"),
        n_digit.alias("n_digit_runs"),
        ratio.alias("bpe_per_word"),
    )


def rolling_fingerprint(docs: DataFrame, n: int = 4) -> DataFrame:
    """t5: rolling-window document fingerprint: hash every sliding
    n-token window (the relational form of a Rabin-Karp rolling hash —
    exploded rows hash each window exactly once, one shuffle by doc)
    and keep the minimum digest (winnowing-style selection) plus the
    distinct-window count. Documents sharing any long text run agree on
    many window hashes; the min digest is a cheap containment
    signature. Docs with <n tokens get a null fingerprint and 0
    windows."""
    from .dedup import shingle_rows  # lazy: dedup imports this module

    sh = shingle_rows(docs, n)
    g = sh.groupBy("doc_id").agg(
        F.min(F.md5("sh")).alias("rolling_fp"),
        F.countDistinct("sh").alias("n_windows"),
    )
    return (
        docs.select("doc_id")
        .join(g, "doc_id", "left")
        .select(
            "doc_id",
            "rolling_fp",
            F.coalesce(F.col("n_windows"), F.lit(0)).cast("long").alias(
                "n_windows"
            ),
        )
    )


# corpus-size floor below which "auto" winnow-artifact caching is
# skipped — the textops twin of dedup._DOC_ARTIFACT_MIN /
# similarity._BAND_CACHE_MIN / clustering._MODEL_ARTIFACT_MIN (all
# 10k): under the floor the fingerprint scan costs more than the
# md5-per-gram recompute, every driver-verified scale keeps the
# inline plan, and tiny test/bench corpora stop leaving one artifact
# dir per content fingerprint in the shared cache. Explicit cache
# roots bypass the gate (law tests push tiny corpora through the
# artifact path on purpose).
_WINNOW_ARTIFACT_MIN = 10_000


# the winnow fingerprint table as an artifact kind (``artifacts.Kind``):
# a row-wise pure function of each document, so shards merge by union
WINNOW = Kind(
    "wn_v1_n{n}_h{h}_k{k}_w{w}",
    _WINNOW_ARTIFACT_MIN,
    DOC_COLS,
    lambda docs, k, w: _winnow_fps_inline(docs, k, w),
    read=lambda frame, k, w: frame.select("doc_id", "fp"),
)


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 4,
    w: int = 4,
    cache: str | None = "auto",
    fingerprint: tuple[int, int] | None = None,
) -> DataFrame:
    """(doc_id, fp) — MOSS winnowing (Schleimer et al. 2003, "Winnowing:
    Local Algorithms for Document Fingerprinting"): hash every k-token
    gram, slide a window of ``w`` consecutive gram hashes, keep each
    window's MINIMUM hash, emit the distinct minima as the document's
    fingerprint set. Guarantees every shared run of ``k + w - 1``
    tokens contributes at least one shared fingerprint — the local
    coverage property t5's single global-min digest lacks — so two
    documents sharing ANY long run are guaranteed fingerprint overlap.

    Scale design: exploded token rows + stacked window functions over
    ONE (doc_id, pos) shuffle+sort — the gram concat, the md5, and
    the window-min all run inside whole-stage codegen. (The obvious
    zero-shuffle alternative — nested higher-order array ``transform``
    lambdas per document — evaluates INTERPRETED per element in Spark
    and measured 4.6x slower at sf1, 28.9s vs 6.3s, for identical
    output; the shuffle is cheaper than losing codegen on the
    md5-per-gram hot loop.) Output is bounded by ~n_tokens/w
    fingerprints per doc (the winnowing density bound, 2/(w+1)
    expected). Docs shorter than ``k + w - 1`` tokens have no full
    window and emit no rows (identically in the DuckDB oracle). The
    result is persisted: the md5-per-gram pass is the dominant cost
    and every consumer (wn1's df count + pair join + per-doc totals,
    wn2's bench/train split) reads it several times — lifetime is
    caller-owned (``session.clear_operator_caches``), and the cache
    manager substitutes the materialization into any logically-equal
    subtree across queries.

    ``cache`` (default "auto") reads the table from the ``WINNOW``
    artifact instead (building and caching it on first contact with a
    corpus — ``artifacts.Kind.lookup``) so a cold session skips the
    md5-per-gram pass; the rows are a deterministic pure function of
    each document, so cached and inline forms are row-identical
    (law-tested). "auto" only engages at ``_WINNOW_ARTIFACT_MIN``+
    docs — below the gate (all driver-verified scales, the pinned
    bench) the plan is the inline form, identical to the pre-artifact
    rounds. None forces inline; any other string is the cache root
    (bypassing the gate)."""
    from pyspark.storagelevel import StorageLevel

    fps = WINNOW.lookup(docs, cache, fingerprint, k=k, w=w)
    if fps is None:
        fps = _winnow_fps_inline(docs, k, w)
    return fps.persist(StorageLevel.MEMORY_AND_DISK)


def _winnow_fps_inline(docs: DataFrame, k: int, w: int) -> DataFrame:
    """The inline (recompute) winnow plan — see
    :func:`winnow_fingerprints` for semantics and design notes."""
    wl = Window.partitionBy("doc_id").orderBy("pos")
    # a gram at pos is full iff its (k-1)-ahead token exists; valid
    # gram positions are contiguous so the winnow window needs no
    # re-indexing before its own lead-based completeness check
    kg = (
        token_rows(docs)
        .select(
            "doc_id",
            "pos",
            F.md5(
                F.concat_ws(
                    "\x1f",
                    F.col("tok"),
                    *[F.lead("tok", j).over(wl) for j in range(1, k)],
                )
            ).alias("h"),
            F.lead("tok", k - 1).over(wl).isNotNull().alias("full_gram"),
        )
        .filter("full_gram")
    )
    fps = (
        kg.select(
            "doc_id",
            F.min("h").over(wl.rowsBetween(0, w - 1)).alias("fp"),
            F.lead("h", w - 1).over(wl).isNotNull().alias("full_win"),
        )
        .filter("full_win")
        .select("doc_id", "fp")
        .distinct()
    )
    return fps


def winnow_overlap(
    docs: DataFrame,
    k: int = 4,
    w: int = 4,
    max_df: int = 50,
    min_shared: int = 2,
    fingerprint: tuple[int, int] | None = None,
    cache: str | None = "auto",
) -> DataFrame:
    """wn1: partial-overlap / quotation detection from winnowing
    fingerprints — the pair report MOSS builds: for every document
    pair sharing >= ``min_shared`` retained fingerprints, the shared
    count, each side's retained-fingerprint count, and the integer
    per-mille overlap ``1000 * n_shared // min(n_fp_a, n_fp_b)``.

    Near-dup detectors (d2-d6) answer "are these documents mostly the
    same?"; winnowing overlap answers "do they share any substantial
    passage?" — the containment question at paragraph granularity,
    which bag-of-shingles Jaccard dilutes away on long documents.

    Scale design: pairs are generated per-FINGERPRINT bucket, never
    all-pairs. The bucket cap is enforced by a plain df COUNT (map-side
    combinable, no per-key array materialization, so a boilerplate
    fingerprint in millions of documents never builds a giant row):
    fingerprints present in more than ``max_df`` documents are dropped
    before the pair join (boilerplate grams carry no discriminative
    signal and would create hot buckets — the MOSS stop-gram rule), so
    a bucket expands to at most ``max_df``² pairs. The fingerprint
    table feeds three consumers (df count, pair join, per-doc totals)
    and is persisted once by :func:`winnow_fingerprints` — the
    operator-cache idiom of the dedup band tables; lifetime is
    caller-owned (``session.clear_operator_caches``). All counts
    integer -> hash-portable. ``cache``: artifact root threaded to
    the fingerprint stage — a corpus maintained in a custom root must
    query against the same root (ADVICE r10)."""
    fps = winnow_fingerprints(docs, k, w, cache=cache, fingerprint=fingerprint)
    dft = fps.groupBy("fp").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    keep = fps.join(
        dft.filter(F.col("df").between(2, max_df)).select("fp"), "fp"
    )
    a = keep.alias("a")
    b = keep.alias("b")
    shared = (
        a.join(b, "fp")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    # denominators are each document's TOTAL fingerprint count (before
    # the stop-gram cap), so partial overlaps score < 1000 pm instead
    # of every pair trivially saturating on its shared subset
    nfp = fps.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_fp")
    )
    return (
        shared.join(
            nfp.select(
                F.col("doc_id").alias("doc_a"), F.col("n_fp").alias("n_fp_a")
            ),
            "doc_a",
        )
        .join(
            nfp.select(
                F.col("doc_id").alias("doc_b"), F.col("n_fp").alias("n_fp_b")
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            "n_fp_a",
            "n_fp_b",
            F.floor(
                F.lit(1000) * F.col("n_shared")
                / F.least(F.col("n_fp_a"), F.col("n_fp_b"))
            )
            .cast("long")
            .alias("overlap_pm"),
        )
    )


def winnow_decontaminate(
    docs: DataFrame,
    k: int = 4,
    w: int = 4,
    min_shared: int = 1,
    fingerprint: tuple[int, int] | None = None,
) -> DataFrame:
    """wn2: passage-level benchmark decontamination from winnowing
    fingerprints — flags training documents sharing >= ``min_shared``
    winnow fingerprints with ANY benchmark document (the deterministic
    1/8 heldout split of :func:`~.dedup.benchmark_membership`, same as
    d8). The winnowing coverage guarantee makes the rule crisper than
    d8's whole-doc shingle-overlap threshold: any run of >= k + w - 1
    tokens copied verbatim from a benchmark document IS caught, even
    inside an otherwise-clean long document whose overlap basis points
    stay under d8's bar.

    Output per flagged doc: (doc_id, lang, n_fp, n_hit, hit_pm) where
    hit_pm = 1000 * n_hit // n_fp.

    Scale design: d8's broadcast-probe shape — the benchmark
    fingerprint set is small by construction (eval corpora; winnowing
    keeps ~2/(w+1) fingerprints per token) and broadcasts; the
    training side is a map-side hash probe, never shuffled by
    fingerprint. If the benchmark set outgrows broadcast, drop the
    hint and the same plan key-shuffles — semantics unchanged."""
    from .dedup import benchmark_membership

    fp = winnow_fingerprints(docs, k, w, fingerprint=fingerprint).withColumn(
        "is_bench", benchmark_membership()
    )
    bench = (
        fp.filter(F.col("is_bench"))
        .select("fp")
        .distinct()
        .withColumn("hit", F.lit(1).cast("long"))
    )
    train = fp.filter(~F.col("is_bench")).select("doc_id", "fp")
    per_doc = (
        train.join(F.broadcast(bench), "fp", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_fp"),
            F.coalesce(F.sum("hit"), F.lit(0).cast("long")).alias(
                "n_hit"
            ),
        )
        .filter(F.col("n_hit") >= min_shared)
    )
    return (
        per_doc.join(docs.select("doc_id", "lang"), "doc_id")
        .select(
            "doc_id",
            "lang",
            "n_fp",
            "n_hit",
            F.floor(F.lit(1000) * F.col("n_hit") / F.col("n_fp"))
            .cast("long")
            .alias("hit_pm"),
        )
    )


def fingerprint(docs: DataFrame) -> DataFrame:
    """Document fingerprinting: md5 over whitespace-normalized,
    lowercased text + a shard prefix (the rolling-hash fingerprint of
    SURVEY's text-analysis extension, as a content-addressable key)."""
    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    fp = F.md5(norm)
    return docs.select(
        "doc_id",
        fp.alias("fingerprint"),
        F.substring(fp, 1, 8).alias("fp_prefix"),
        F.length(norm).cast("long").alias("norm_len"),
    )


def token_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, tok) — tokenization happens ONCE per document,
    then explodes; downstream per-token work is row-at-a-time in
    whole-stage codegen and parallelized by the next shuffle. (NOT
    repartitioned up front: pushing the whole tokenize->hash->aggregate
    chain into one post-shuffle stage produces a generated method past
    the JIT compile limit and the stage runs as interpreted bytecode —
    measured 6x slower than the split-stage form.)"""
    return docs.select(
        "doc_id", F.posexplode(tokens_col(F.col("text"))).alias("pos", "tok")
    )


def repetition_stats(
    docs: DataFrame, bigram_bp: int = 2000, unigram_bp: int = 3000
) -> DataFrame:
    """t7: repetition-based quality filter — the Gopher-style "excess
    repetition" rules of a pretraining pipeline, restated at token
    level (the synthetic corpus has no line structure): a doc is
    repetitive when its most frequent bigram covers >= ``bigram_bp``
    basis points of its bigram slots (default 20%) or its most
    frequent unigram covers >= ``unigram_bp`` of its tokens (30%).

    Output per doc: (doc_id, lang, n_tokens, top_unigram_n,
    top_bigram_n, rep_unigram_bp, rep_bigram_bp, is_repetitive).
    Docs with < 2 tokens have no bigram slots; their rep_bigram_bp is
    0 by convention (never flagged on the bigram rule).

    Scale design: pure two-stage hash aggregation — explode to token
    rows, count per (doc_id, gram) with map-side partial agg, then
    max/sum per doc_id; the bigram build reuses the doc_id-partitioned
    sort from one lead() window. No distinct, no join back until the
    final bounded (one row per doc) stage, so the token-row volume is
    touched exactly twice and all shuffles carry pre-aggregated
    counts."""
    t = token_rows(docs)
    uni = (
        t.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.max("c").alias("top_unigram_n"),
            F.sum("c").alias("n_tokens"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    bg_rows = (
        t.withColumn("nxt", F.lead("tok").over(w))
        .filter(F.col("nxt").isNotNull())
        .select("doc_id", F.concat_ws(" ", "tok", "nxt").alias("bg"))
    )
    bi = (
        bg_rows.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_bigram_n"), F.sum("c").alias("n_bg"))
    )
    d = (
        docs.select("doc_id", "lang")
        .join(uni, "doc_id", "left")
        .join(bi, "doc_id", "left")
    )
    n_tokens = F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long")
    top_uni = F.coalesce(F.col("top_unigram_n"), F.lit(0)).cast("long")
    top_bi = F.coalesce(F.col("top_bigram_n"), F.lit(0)).cast("long")
    n_bg = F.coalesce(F.col("n_bg"), F.lit(0)).cast("long")
    rep_uni = F.when(
        n_tokens > 0,
        F.round(top_uni * 10000.0 / n_tokens).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    rep_bi = F.when(
        n_bg > 0, F.round(top_bi * 10000.0 / n_bg).cast("long")
    ).otherwise(F.lit(0).cast("long"))
    return d.select(
        "doc_id",
        "lang",
        n_tokens.alias("n_tokens"),
        top_uni.alias("top_unigram_n"),
        top_bi.alias("top_bigram_n"),
        rep_uni.alias("rep_unigram_bp"),
        rep_bi.alias("rep_bigram_bp"),
        (
            (rep_bi >= F.lit(bigram_bp)) | (rep_uni >= F.lit(unigram_bp))
        ).alias("is_repetitive"),
    )


def doc_frequency(docs: DataFrame, top_n: int = 100) -> DataFrame:
    """t8: corpus-level document-frequency table — the global
    vocabulary statistic behind IDF weighting, stopword discovery and
    tokenizer vocab selection. Emits the ``top_n`` tokens by document
    frequency as (tok, df, docs_per_million), integer-exact
    (dpm = round(df * 1e6 / N), no logarithms — ln is not guaranteed
    bit-identical across engines).

    Scale design: distinct (doc_id, tok) via hash aggregation (one
    shuffle of token rows, map-side combine), count per token (second
    shuffle carries one row per distinct token per partition), then a
    distributed TakeOrdered top-k on the deterministic total order
    (df DESC, tok ASC) — no single-partition window, no global sort of
    the vocabulary. The 1-row corpus count joins in as a broadcast
    (it is the only driver-free way to attach a scalar aggregate)."""
    n_docs = docs.agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs")
    )
    df_t = (
        token_rows(docs).select("doc_id", "tok").distinct()
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
    )
    return (
        df_t.crossJoin(F.broadcast(n_docs))
        .select(
            "tok",
            "df",
            F.round(F.col("df") * 1000000.0 / F.col("n_docs"))
            .cast("long")
            .alias("docs_per_million"),
        )
        .orderBy(F.col("df").desc(), F.col("tok"))
        .limit(top_n)
    )


# PII patterns, written in the regex intersection of Java (Spark) and
# RE2 (DuckDB): character classes, bounded repeats and \b only — no
# lookaround, no backreferences — so the SAME pattern string runs in
# both engines (cross-engine parity proven on synthetic PII fixtures
# in tests/test_pii.py; the driver corpus contains no PII, so this
# operator is pytest-verified rather than registry-verified).
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"(\+\d{1,3}[- ]?)?\(?\d{3}\)?[- ]?\d{3}[- ]?\d{4}\b",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
}


def with_synthetic_pii(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Deterministically inject synthetic PII derived from doc_id —
    the plumbing that promotes t9 from pytest-only to a full driver
    oracle: the driver corpus is PII-free, so the scrub over raw
    documents is a trivially-all-zero query; this derives a
    PII-bearing text column as a pure function of (doc_id, text) that
    the DuckDB oracle restates verbatim, so counts, redaction and the
    audit md5 are all hash-checked on REAL matches. doc_id % 4 picks
    the class (email / ipv4 / phone / none); appending after a letter
    boundary cannot extend or create a match inside the original text
    (the corpus's zero-match property is pytest-proven)."""
    t = F.col(text_col)
    did = F.col("doc_id")
    injected = (
        F.when(
            did % 4 == 0,
            F.concat(
                t, F.lit(" contact user"), did.cast("string"),
                F.lit("@example.com"),
            ),
        )
        .when(
            did % 4 == 1,
            F.concat(
                t, F.lit(" from 10."), (did % 200).cast("string"),
                F.lit(".0."), (did % 250).cast("string"),
            ),
        )
        .when(
            did % 4 == 2,
            F.concat(
                t, F.lit(" call 555-"),
                F.lpad((did % 1000).cast("string"), 3, "0"),
                F.lit("-"),
                F.lpad((did % 10000).cast("string"), 4, "0"),
            ),
        )
        .otherwise(t)
    )
    return docs.withColumn(text_col, injected)


def pii_scrub(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """t9: PII detection + redaction — per-document match counts for
    each pattern class and the text with every match replaced by its
    ``[CLASS]`` tag, plus an md5 of the redacted text so audits can
    prove the scrub without re-reading content.

    Scale design: pure JVM regexp expressions (regexp_count /
    regexp_replace) inside whole-stage codegen — a linear scan, no
    shuffle at all; at 100 TB this is bandwidth-bound like any
    filter. Patterns are applied in a fixed order (email, ipv4,
    phone, ssn) so overlapping matches resolve deterministically."""
    out = docs
    counts = []
    red = F.col(text_col)
    for name, pat in PII_PATTERNS.items():
        counts.append(
            F.regexp_count(F.col(text_col), F.lit(pat))
            .cast("long")
            .alias(f"n_{name}")
        )
        red = F.regexp_replace(red, pat, f"[{name.upper()}]")
    total = None
    for c in PII_PATTERNS:
        col = F.col(f"n_{c}")
        total = col if total is None else total + col
    return (
        out.select("doc_id", F.col(text_col), *counts)
        .withColumn("n_pii", total.cast("long"))
        .withColumn("redacted", red)
        .withColumn("redacted_md5", F.md5(red))
        .drop(text_col)
    )


def tfidf_keywords(docs: DataFrame, top_k: int = 3) -> DataFrame:
    """tf1: per-document keyword extraction — the ``top_k`` tokens by
    TF-IDF, the classic topic-tagging / dedup-explanation signal of a
    corpus pipeline. All-integer scoring keeps it engine-portable:

        idf_ppm = round(1e6 * n_docs / df)     (no logarithms — ln is
        score   = tf * idf_ppm                  not bit-stable across
                                                engines; 1/df ranks
                                                identically)

    Ties break on token text, so the emitted row set is a
    deterministic total order both engines agree on.

    Scale design: (1) per-(doc, token) counts — one shuffle with
    map-side combine; (2) document frequency per token — second
    bounded-by-vocabulary aggregate; (3) tf joins df on the token key
    (co-shuffled equi-join; at 100 TB both sides are already
    token-keyed, and the df side is vocabulary-sized — broadcastable
    while the vocab fits); (4) per-doc top-k via one window over the
    doc's own tokens. The corpus doc count attaches as a broadcast
    scalar exactly like t8."""
    tf = (
        token_rows(docs)
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    # count(nullif(tf, 0)) == count(*) (group counts are >= 1) but
    # Catalyst cannot prove it, so it cannot prune tf from this branch
    # and collapse it to a distinct — keeping the df branch and the
    # probe branch canonically identical so AQE reuses ONE tokenize+
    # shuffle stage for both (same trick as familiarity_score;
    # plan-pinned in test_plan_quality).
    df_t = tf.groupBy("tok").agg(
        F.count(F.nullif(F.col("tf"), F.lit(0))).cast("long").alias("df")
    )
    n_docs = docs.agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs")
    )
    scored = (
        tf.join(df_t, "tok")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "tok",
            "tf",
            "df",
            F.round(F.lit(1000000.0) * F.col("n_docs") / F.col("df"))
            .cast("long")
            .alias("idf_ppm"),
        )
        .withColumn("score", (F.col("tf") * F.col("idf_ppm")).cast("long"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("tok").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= top_k)
        .select("doc_id", "rank", "tok", "tf", "df", "score")
    )


def familiarity_score(docs: DataFrame) -> DataFrame:
    """t10: corpus-familiarity quality score — the logarithm-free
    stand-in for a unigram-LM perplexity filter: each document scores
    the average docs-per-million of its token stream (frequency-
    weighted, so a rare-token-heavy document scores low exactly like
    it would perplex a language model), plus the document's rarest
    token's df as the tail indicator. Empty documents have no token
    stream and are absent by construction.

    All integer (df counts, round at ppm scale) so the score is
    hash-identical across engines.

    Scale design: the exploded token stream is collapsed ONCE to a
    per-(doc, token) term-frequency table (map-side combinable, and
    orders of magnitude smaller than the raw stream for natural text);
    every downstream step — the vocabulary df table, the dpm join, the
    per-doc aggregate — reads that compressed table, so the expensive
    stream never crosses a second shuffle. The tf subtree feeds both
    the vocab build and the probe side as the SAME plan fragment, so
    Catalyst's ReuseExchange computes its shuffle once (plan-asserted
    in ``test_plan_quality``) — no persist, no extra job. The vocab
    join carries no hint: AQE's runtime size check broadcasts the dpm
    side while the vocabulary fits an executor and key-shuffles past
    that (a web-scale vocab at 100 TB does not fit). The tf-weighted
    mean ``sum(dpm*tf)/sum(tf)`` is value-identical to the stream mean
    ``sum(dpm)/count(*)`` the oracle computes. No windows, no sorts."""
    # The explicit isnotnull(doc_id) filter matches the one the final
    # doc_id join infers on the probe branch, so BOTH consumers of the
    # tf subtree canonicalize to the same scan+explode+aggregate plan
    # and AQE reuses one shuffle stage for them (tokenization — the
    # dominant cost — runs once, plan-asserted in test_plan_quality).
    toks = (
        token_rows(docs)
        .filter(F.col("doc_id").isNotNull())
        .select("doc_id", "tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    # df counts nullif(tf, 0): tf is never 0 (group counts are >= 1)
    # so the value is exactly count(*) per token — but Catalyst cannot
    # prove that, so it cannot rewrite the count to count(1) and prune
    # tf from this branch (which would collapse it to a plain distinct
    # with a DIFFERENT subtree than the probe side, defeating the
    # stage reuse above).
    dfreq = tf.groupBy("tok").agg(
        F.count(F.nullif(F.col("tf"), F.lit(0))).cast("long").alias("df")
    )
    n_docs = docs.agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs")
    )
    dpm = (
        dfreq.crossJoin(F.broadcast(n_docs))
        .select(
            "tok",
            "df",
            F.round(F.col("df") * 1000000.0 / F.col("n_docs"))
            .cast("long")
            .alias("dpm"),
        )
    )
    j = tf.join(dpm, "tok")
    per_doc = j.groupBy("doc_id").agg(
        F.sum("tf").cast("long").alias("n_tokens"),
        F.round(F.sum(F.col("dpm") * F.col("tf")) / F.sum("tf"))
        .cast("long")
        .alias("familiarity_dpm"),
        F.min("df").alias("min_tok_df"),
    )
    return per_doc.join(
        docs.select("doc_id", "lang"), "doc_id"
    ).select("doc_id", "lang", "n_tokens", "familiarity_dpm", "min_tok_df")
