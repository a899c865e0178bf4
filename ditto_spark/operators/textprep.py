"""P3/P4 + text-analysis operators: TF-IDF summarization, domain-knowledge
number normalization, language identification.

Reference semantics being re-expressed (adapted, Spark-first):

* TF-IDF summarization — /root/reference/ditto_light/summarize.py:63-114:
  keep only the highest-IDF tokens of each entry until a token budget,
  preserving original token order; stopwords excluded (summarize.py:12);
  IDF index built over the whole corpus (summarize.py:33-52). The reference
  trims to LM-subword budget with a cached tokenizer (summarize.py:54-61) —
  no HF tokenizer exists in this sandbox, so the budget is whitespace-token
  count. Rarity rank is document frequency ascending with lexicographic
  tie-break, making the operator purely relational (posexplode + DF join +
  ranking window + re-concat) — whole-stage codegen, no Python, and exactly
  expressible in ANSI SQL for the DuckDB oracle.

* Number normalization — /root/reference/ditto_light/knowledge.py:91-105:
  integer-looking tokens rendered '%d' (leading zeros dropped), decimal
  tokens rendered '%.2f', and ≥7-char digit-bearing tokens prefixed 'ID'.
  Regex-defined here (the reference uses float() parsing); pure
  `transform()` over the token array — no shuffle at all.

* Language ID — not in the reference (training-data-pipeline extension):
  stopword-hit voting over small per-language function-word lists, argmax
  with (hits desc, lang asc) tie-break, 'und' when nothing hits. Pure
  higher-order-function projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
import pyspark.sql.functions as F

from ditto_spark.operators.blocking import (
    block_minhash_lsh,
    content_tokens,
    space_tokens,
)

# reference stopword list (summarize.py:12) is nltk English; a fixed small
# list keeps the oracle portable
SUMMARIZE_STOPWORDS = [
    "the", "and", "of", "to", "a", "in", "is", "it", "on", "for",
    "with", "as", "at", "by", "an", "be", "this", "that", "are", "or",
]

# Function-word lists per language (public common-word knowledge; ISO 639-1
# keys). Voting is argmax of per-language hit counts with ties broken by
# language code ascending — closely related pairs (da/no, es/pt) therefore
# need at least one discriminative word each, and short texts are guarded by
# the detect_language `min_hits` floor.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "you", "that", "it", "for"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "sie", "ich"],
    "fr": ["le", "la", "et", "les", "des", "est", "un", "une", "pour", "que"],
    "es": ["el", "la", "que", "de", "los", "una", "es", "por", "con", "para"],
    "it": ["il", "di", "che", "non", "per", "sono", "una", "con", "della", "questo"],
    "pt": ["de", "que", "não", "uma", "para", "com", "os", "mais", "como", "isso"],
    "nl": ["de", "het", "een", "van", "niet", "dat", "maar", "zijn", "voor", "ik"],
    "sv": ["och", "att", "det", "som", "en", "är", "på", "för", "med", "inte"],
    "da": ["og", "det", "at", "der", "til", "ikke", "jeg", "med", "han", "hvad"],
    "no": ["og", "det", "ikke", "som", "på", "jeg", "har", "til", "av", "hva"],
    "pl": ["nie", "się", "jest", "to", "czy", "ale", "jak", "tak", "było", "tego"],
    "ro": ["și", "nu", "este", "care", "din", "mai", "pentru", "fost", "sunt", "dacă"],
    "id": ["yang", "dan", "di", "itu", "dengan", "untuk", "tidak", "ini", "dari", "akan"],
    "tr": ["bir", "ve", "bu", "için", "ne", "gibi", "ama", "değil", "daha", "çok"],
}


def token_document_frequency(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus DF index (summarize.py:33-52 analogue): (token, df_cnt) with
    df_cnt = number of documents containing the token. One explode + one
    agg; count_distinct avoided by pre-distincting per doc (cheaper map-side
    combine)."""
    per_doc = df.select(
        F.col(id_col), F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("token")
    ).where(F.col("token") != "")
    return per_doc.groupBy("token").agg(F.count(F.lit(1)).alias("df_cnt"))


def subword_cost_expr(token: F.Column) -> F.Column:
    """Deterministic LM-subword-count ESTIMATE: ceil(len/4), floor 1 — a
    BPE-ish proxy for the reference's cached tokenizer lengths
    (summarize.py:54-61; no HF tokenizer in this container). Engine-
    portable (the DuckDB oracle computes the same formula), and the same
    per-token arithmetic a real tokenizer-length dict would slot into."""
    return F.greatest(F.lit(1), F.ceil(F.length(token) / 4.0)).cast("long")


def tfidf_summarize(
    df: DataFrame,
    df_index: DataFrame,
    max_tokens: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "summary",
    max_subwords: int | None = None,
) -> DataFrame:
    """Keep each document's rarest distinct tokens (df_cnt asc, token asc),
    all occurrences, in original order; stopwords dropped. Budget is either
    `max_tokens` distinct tokens (default) or, when `max_subwords` is set,
    the reference's LM-subword budget (summarize.py:63-114): distinct
    tokens are admitted in rarity order while their cumulative estimated
    subword cost stays ≤ max_subwords — a running-sum window, not a Python
    loop.

    Plan: posexplode → join DF index (broadcast when small — Catalyst
    decides) → per-doc ranking/running-sum window over the distinct token
    set → semi-join positions back → ordered re-concat. Two shuffles, both
    keyed by doc — at 100 TB the DF index join is the only wide join and
    the index is orders of magnitude smaller than the corpus."""
    toks = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "token"),
    ).where((F.col("token") != "") & ~F.col("token").isin(SUMMARIZE_STOPWORDS))
    with_df = toks.join(df_index, "token", "left").withColumn(
        "df_cnt", F.coalesce("df_cnt", F.lit(0))
    )
    distinct_tokens = with_df.groupBy(id_col, "token").agg(F.min("df_cnt").alias("df_cnt"))
    w = Window.partitionBy(id_col).orderBy(F.asc("df_cnt"), F.asc("token"))
    if max_subwords is not None:
        kept = (
            distinct_tokens.withColumn(
                "cum", F.sum(subword_cost_expr(F.col("token"))).over(w)
            )
            .where(F.col("cum") <= max_subwords)
            .select(id_col, "token")
        )
    else:
        kept = (
            distinct_tokens.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= max_tokens)
            .select(id_col, "token")
        )
    kept_pos = with_df.join(kept, [id_col, "token"], "left_semi")
    ordered = F.array_sort(F.collect_list(F.struct("pos", "token")))
    return kept_pos.groupBy(id_col).agg(
        F.concat_ws(" ", F.transform(ordered, lambda s: s["token"])).alias(out_col)
    )


def normalize_numbers(
    df: DataFrame, text_col: str = "text", out_col: str = "normalized"
) -> DataFrame:
    """knowledge.py:91-105 semantics, regex-defined, zero-shuffle:
    '^\\d+$' → canonical integer; '^\\d+\\.\\d+$' → %.2f; else if len≥7 and
    contains a digit → 'ID'+token; else unchanged.

    Numeric branches are capped at 18 chars: a >18-digit integer overflows
    bigint (ANSI mode nulls/errors the cast and concat_ws would silently
    drop the token). Such tokens are serial-number-like anyway, so they fall
    through to the ID branch — documented deviation from the reference's
    arbitrary-precision Python int()."""
    def norm(t):
        return (
            F.when(
                t.rlike("^[0-9]+$") & (F.length(t) <= 18),
                t.cast("bigint").cast("string"),
            )
            .when(
                t.rlike("^[0-9]+\\.[0-9]+$") & (F.length(t) <= 18),
                F.format_string("%.2f", t.cast("double")),
            )
            .when(
                (F.length(t) >= 7) & t.rlike("[0-9]"), F.concat(F.lit("ID"), t)
            )
            .otherwise(t)
        )

    return df.withColumn(
        out_col,
        F.concat_ws(" ", F.transform(space_tokens(F.col(text_col)), norm)),
    )


# --- P4 NER-marker DK injection (regex/gazetteer approximation) -----------
#
# The reference inserts a marker token before each spaCy-NER entity span
# (knowledge.py:53-106 product mode → PRODUCT/NUM; knowledge.py:110-160
# general mode → the entity label itself), then number-normalizes. spaCy is
# not installed in this container, so entity recognition here is a
# DOCUMENTED APPROXIMATION: deterministic regex classes for the
# date/time/money/percent/quantity entity families (which regexes capture
# well) plus a caller-supplied gazetteer for the name-like families
# (PERSON/ORG/LOC/PRODUCT — which regexes cannot capture; production swaps
# in a spaCy mapInPandas over the same marker contract). Zero-shuffle JVM
# projection either way.

DK_REGEX_LABELS: list[tuple[str, str]] = [
    ("TIME", r"^\d{1,2}:\d{2}(:\d{2})?(am|pm)?$"),
    ("DATE", r"^((19|20)\d{2}|\d{1,2}/\d{1,2}/\d{2,4}|january|february|march|april|may|june|july|august|september|october|november|december)$"),
    ("MONEY", r"^\$\d[\d,]*(\.\d+)?$"),
    ("PERCENT", r"^\d+(\.\d+)?%$"),
    ("QUANTITY", r"^\d+(\.\d+)?(oz|kg|g|lb|lbs|ml|l|cm|mm|in|ft|gb|mb|tb|ghz|mhz)$"),
]

# product mode folds labels to two markers (knowledge.py:78-84)
_PRODUCT_FOLD = {
    "TIME": "NUM", "DATE": "NUM", "MONEY": "NUM", "PERCENT": "NUM",
    "QUANTITY": "NUM",
    "PERSON": "PRODUCT", "ORG": "PRODUCT", "LOC": "PRODUCT",
    "GPE": "PRODUCT", "NORP": "PRODUCT", "PRODUCT": "PRODUCT",
}


def dk_inject(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "injected",
    mode: str = "general",
    gazetteer: dict[str, list[str]] | None = None,
) -> DataFrame:
    """Insert an entity-marker token before each recognized token, then
    number-normalize, mirroring DKInjector.transform's walk
    (knowledge.py:87-106): marker + (normalized) token.

    mode='general' emits the entity label (GeneralDKInjector); 'product'
    folds to PRODUCT/NUM (ProductDKInjector). gazetteer maps a label to
    lowercase single-token entries, e.g. {"ORG": ["apple", "ibm"]}."""
    gaz = gazetteer or {}

    def label_of(t: F.Column) -> F.Column:
        expr = F.lit(None).cast("string")
        cases: list[tuple[F.Column, str]] = []
        for label, toks in gaz.items():
            cases.append((F.lower(t).isin(*toks), label))
        for label, pat in DK_REGEX_LABELS:
            cases.append((F.lower(t).rlike(pat), label))
        for cond, label in reversed(cases):
            out = label if mode == "general" else _PRODUCT_FOLD.get(label, label)
            expr = F.when(cond, F.lit(out)).otherwise(expr)
        return expr

    def norm(t: F.Column) -> F.Column:
        # knowledge.py:91-105 number normalization (shared semantics with
        # normalize_numbers; 18-char cap per the ANSI-overflow guard)
        return (
            F.when(
                t.rlike("^[0-9]+$") & (F.length(t) <= 18),
                t.cast("bigint").cast("string"),
            )
            .when(
                t.rlike("^[0-9]+\\.[0-9]+$") & (F.length(t) <= 18),
                F.format_string("%.2f", t.cast("double")),
            )
            .when(
                (F.length(t) >= 7) & t.rlike("[0-9]"),
                F.concat(F.lit("ID "), t),
            )
            .otherwise(t)
        )

    def render(t: F.Column) -> F.Column:
        lab = label_of(t)
        return F.when(lab.isNotNull(), F.concat(lab, F.lit(" "), norm(t))).otherwise(
            norm(t)
        )

    toks = space_tokens(F.col(text_col))
    return df.withColumn(out_col, F.concat_ws(" ", F.transform(toks, render)))


def detect_language(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "detected_lang",
    min_hits: int = 1,
) -> DataFrame:
    """Stopword-voting language ID: hits per language over the lowercased
    token array; argmax (hits desc, lang asc); 'und' when the best language
    scores fewer than `min_hits` function-word hits (floor ≥ 2 recommended
    for short/noisy text — one stray stopword is not evidence)."""
    toks = F.split(F.lower(F.col(text_col)), " ")

    def _hits(ws: list[str]):
        # one-arg closure — a defaulted second lambda param would make
        # pyspark treat it as the (element, index) binary form
        return lambda t: t.isin(*ws)

    scores = [
        F.struct(
            F.size(F.filter(toks, _hits(ws))).alias("hits"),
            F.lit(lang).alias("lang"),
        )
        for lang, ws in sorted(LANG_STOPWORDS.items())
    ]
    # array_max on struct compares fields in order → (hits, lang); to get
    # lang ASC on hit ties we order by (hits, reversed-lang) … simpler: sort
    # descending by hits then pick first with min lang among ties via
    # aggregate over the sorted array.
    arr = F.array(*scores)
    best = F.aggregate(
        arr,
        F.struct(F.lit(-1).alias("hits"), F.lit("").alias("lang")),
        lambda acc, x: F.when(x["hits"] > acc["hits"], x).otherwise(acc),
    )
    return df.withColumn(
        out_col,
        F.when(best["hits"] >= min_hits, best["lang"]).otherwise(F.lit("und")),
    ).withColumn("lang_hits", F.greatest(best["hits"], F.lit(0)))


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021, §A1.1 —
    public filtering heuristics; absent from the reference, which never
    needs corpus-quality scoring): per document,
      top_bigram_frac  — fraction of all bigram occurrences taken by the
                         single most frequent bigram,
      dup_trigram_frac — fraction of trigram occurrences whose trigram
                         occurs more than once.
    High values flag boilerplate / degenerate repetition.

    Shape: two explodes + per-(doc, gram) counts + a per-doc agg — every
    shuffle is keyed by doc_id (+gram), no joins wider than the document
    itself; scales as a pure keyed aggregation. Documents shorter than n
    tokens have no n-grams → frac 0 (guarded division)."""
    toks = space_tokens(F.col(text_col))

    def grams(n: int) -> F.Column:
        return F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - n),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    def frac(n: int, mode: str, out: str) -> DataFrame:
        g = df.select(F.col(id_col), F.explode(grams(n)).alias("g"))
        cnt = g.groupBy(id_col, "g").agg(F.count(F.lit(1)).alias("c"))
        agg = cnt.groupBy(id_col).agg(
            F.sum("c").alias("total"),
            (
                F.max("c") if mode == "top"
                else F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0))
            ).alias("part"),
        )
        return agg.select(
            F.col(id_col),
            F.round(F.col("part") / F.greatest("total", F.lit(1)), 9).alias(out),
        )

    out = (
        df.select(id_col)
        .join(frac(2, "top", "top_bigram_frac"), id_col, "left")
        .join(frac(3, "dup", "dup_trigram_frac"), id_col, "left")
    )
    return out.select(
        id_col,
        F.coalesce("top_bigram_frac", F.lit(0.0)).alias("top_bigram_frac"),
        F.coalesce("dup_trigram_frac", F.lit(0.0)).alias("dup_trigram_frac"),
    )


PII_PATTERNS: dict[str, str] = {
    # order matters: longest/most specific first; all patterns are valid in
    # both Java regex (Spark) and RE2 (DuckDB) so the oracle replicates them
    "email": "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "ipv4": "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b",
    "phone": "\\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\\b",
    "ssn": "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b",
}


def pii_scrub(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "scrubbed",
) -> DataFrame:
    """Training-data PII scrubbing (public-pattern redaction; a standard
    pre-training pipeline stage, out of the reference's scope): replace
    email / IPv4 / phone / SSN-shaped spans with <TYPE> markers and count
    each. Pure JVM regexp_replace/regexp_count chain — zero Python, fully
    pushed into whole-stage codegen; patterns chosen to be portable between
    Java regex and RE2 so the DuckDB oracle replicates the scrub exactly.
    SSN runs before phone (a dashed SSN also matches the phone shape)."""
    order = ["email", "ipv4", "ssn", "phone"]
    text = F.col(text_col)
    counts = []
    for name in order:
        pat = PII_PATTERNS[name]
        counts.append(
            F.regexp_count(text, F.lit(pat)).cast("long").alias(f"n_{name}")
        )
        text = F.regexp_replace(text, pat, f"<{name.upper()}>")
    return df.select(F.col(id_col), *counts, text.alias(out_col))


GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 20,
    max_words: int = 100_000,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 12.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Gopher-style document quality filter (Rae et al. 2021, §A1.1 —
    public filtering heuristics; absent from the reference, which never
    filters corpora): per document the classic rule set —
      n_words            whitespace token count within [min, max]
      mean_word_len      within [min, max]
      symbol_ratio       ('#' chars + '...' occurrences) / n_words
      bullet_frac        fraction of lines starting with a bullet
      ellipsis_frac      fraction of lines ending with '...'
      alpha_word_frac    fraction of words containing a letter
      stop_hits          distinct GOPHER_STOPWORDS present
    and keep = 1 iff every rule passes. Every ratio is a single int/int
    division, so the DuckDB oracle reproduces values bit-for-bit.

    Shape: one narrow projection, zero shuffles (measured: 0 Exchanges),
    zero Python — higher-order array expressions evaluate JVM-side outside
    whole-stage codegen, so the stage is a pure map over the scan and
    scales embarrassingly."""
    text = F.col(text_col)
    toks = space_tokens(text)
    n = F.size(toks)
    lines = F.filter(F.split(text, "\n"), lambda l: l != "")
    nl = F.size(lines)
    chars = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
    )
    n_hash = F.length(text) - F.length(F.regexp_replace(text, "#", ""))
    n_ell = (
        (F.length(text) - F.length(F.regexp_replace(text, "\\.\\.\\.", ""))) / 3
    ).cast("long")
    bullets = F.size(
        F.filter(
            lines,
            lambda l: l.startswith("- ") | l.startswith("* ") | l.startswith("•"),
        )
    )
    ell_lines = F.size(F.filter(lines, lambda l: l.endswith("...")))
    alpha = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(toks),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    )
    def ratio(num, den):
        # ANSI-safe: empty docs (den = 0) score 0.0 instead of raising
        return F.when(den > 0, F.round(num / den, 9)).otherwise(F.lit(0.0))

    out = df.select(
        F.col(id_col),
        n.cast("long").alias("n_words"),
        ratio(chars, n).alias("mean_word_len"),
        ratio(n_hash + n_ell, n).alias("symbol_ratio"),
        ratio(bullets, nl).alias("bullet_frac"),
        ratio(ell_lines, nl).alias("ellipsis_frac"),
        ratio(alpha, n).alias("alpha_word_frac"),
        stop_hits.cast("long").alias("stop_hits"),
    )
    keep = (
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.col("mean_word_len") >= min_mean_word_len)
        & (F.col("mean_word_len") <= max_mean_word_len)
        & (F.col("symbol_ratio") <= max_symbol_ratio)
        & (F.col("bullet_frac") <= max_bullet_frac)
        & (F.col("ellipsis_frac") <= max_ellipsis_frac)
        & (F.col("alpha_word_frac") >= min_alpha_word_frac)
        & (F.col("stop_hits") >= min_stop_hits)
    )
    return out.withColumn("keep", keep.cast("int"))


def duplicated_span_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    l: int = 8,
) -> DataFrame:
    """Exact-substring duplication statistics (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better", arXiv
    2107.06499 — public; the suffix-array span dedup approximated with
    L-token-gram anchors): a token position is DUPLICATED when it is
    covered by some L-gram that also occurs in at least one OTHER
    document. Per document returns
      n_tokens        whitespace token count
      dup_anchor_cnt  this doc's L-gram occurrences whose gram is shared
      n_dup_spans     maximal runs of duplicated positions
      dup_token_frac  duplicated positions / n_tokens
    Marking-then-cut consumers drop or trim the flagged spans.

    Shape: one posexplode (×1 row per token position), a count-distinct
    keyed by md5(gram) — the gram STRING never rides a shuffle key — an
    equi-join back on the hash (AQE-splittable; hot grams are exactly the
    boilerplate this finds), and per-doc interval merging as a classic
    gaps-and-islands window PARTITIONED BY doc (bounded by doc length, so
    no unsplittable global window). Suffix arrays find spans ≥ L with
    arbitrary alignment; L-gram anchors are the standard distributed
    approximation — any duplicated run of ≥ L tokens contains a shared
    L-gram, so recall at span granularity L is exact."""
    text = F.col(text_col)
    toks = space_tokens(text)
    grams = F.when(
        F.size(toks) >= l,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - l),
            lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i + 1, l))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    base = df.select(F.col(id_col), F.size(toks).alias("n_tokens"))
    occ = df.select(F.col(id_col), F.posexplode(grams).alias("pos", "gh"))
    shared = (
        occ.groupBy("gh")
        .agg(F.count_distinct(F.col(id_col)).alias("nd"))
        .where(F.col("nd") >= 2)
        .select("gh")
    )
    hits = occ.join(shared, "gh").select(id_col, "pos")
    w = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = hits.select(
        F.col(id_col),
        "pos",
        (F.col("pos") + l - 1).alias("end"),
        F.when(
            # break only on a real gap: pos == prev_end + 1 still extends
            # the same maximal duplicated run
            F.col("pos") > F.max(F.col("pos") + l - 1).over(w) + 1, 1
        ).otherwise(
            F.when(F.row_number().over(
                Window.partitionBy(id_col).orderBy("pos")
            ) == 1, 1).otherwise(0)
        ).alias("is_start"),
    )
    wrun = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    spans = (
        islands.withColumn("island", F.sum("is_start").over(wrun))
        .groupBy(id_col, "island")
        .agg(
            F.min("pos").alias("s"),
            F.max("end").alias("e"),
            F.count(F.lit(1)).alias("n_anchors"),
        )
    )
    per_doc = spans.groupBy(id_col).agg(
        F.sum("n_anchors").cast("long").alias("dup_anchor_cnt"),
        F.count(F.lit(1)).cast("long").alias("n_dup_spans"),
        F.sum(F.col("e") - F.col("s") + 1).alias("covered"),
    )
    return base.join(per_doc, id_col, "left").select(
        F.col(id_col),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.coalesce("dup_anchor_cnt", F.lit(0)).cast("long").alias("dup_anchor_cnt"),
        F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
        F.when(
            F.col("n_tokens") > 0,
            F.round(F.coalesce("covered", F.lit(0)) / F.col("n_tokens"), 9),
        ).otherwise(F.lit(0.0)).alias("dup_token_frac"),
    )


def ngram_lm_score(
    train: DataFrame,
    score: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.1,
) -> DataFrame:
    """Bigram-LM perplexity scoring — the CCNet-style quality signal
    (Wenzek et al. 2020 score documents with a reference-corpus LM and
    filter by perplexity; public method). Train = add-alpha-smoothed
    bigram counts over the reference corpus; score = per-document mean
    negative log2 probability (bits per token) and perplexity = 2^bits.
    Out-of-vocabulary bigrams/contexts fall back to the smoothed floor
    alpha / (alpha * V).

    Shape: counts are two map-side-combinable groupBys over exploded
    bigrams; vocabulary size is a single-row aggregate cross-joined in
    (1 row, no movement); scoring is one hash join on the bigram key +
    one on the context key, then a per-document aggregate. No Python,
    no windows, no driver state — the model IS a DataFrame, so at 100 TB
    the bigram table shards across executors like any other join side.
    Documents with fewer than 2 tokens have no bigram and are excluded
    (mirrored by the oracle's length filter)."""
    def bigrams(df: DataFrame, keep_id: bool) -> DataFrame:
        # no empty tokens from repeated/leading/trailing spaces: they
        # would otherwise enter the vocabulary and bigram counts
        l = space_tokens(F.col(text_col))
        pairs = F.transform(
            F.slice(l, 1, F.size(l) - 1),
            lambda x, i: F.struct(
                x.alias("w1"), F.element_at(l, i + F.lit(2)).alias("w2")
            ),
        )
        cols = [F.col(id_col)] if keep_id else []
        return (
            df.where(F.size(l) >= 2)
            .select(*cols, F.explode(pairs).alias("b"))
            .select(*cols, F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        )

    tb = bigrams(train, keep_id=False)
    cb = tb.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    cu = tb.groupBy("w1").agg(F.count(F.lit(1)).alias("cu"))
    vocab = (
        tb.select(F.col("w1").alias("w"))
        .unionAll(tb.select(F.col("w2").alias("w")))
        .agg(F.countDistinct("w").cast("double").alias("v"))
    )

    sb = bigrams(score, keep_id=True)
    p = (F.coalesce(F.col("cb"), F.lit(0)) + F.lit(alpha)) / (
        F.coalesce(F.col("cu"), F.lit(0)) + F.lit(alpha) * F.col("v")
    )
    bits = F.avg(-F.log2(p)).alias("_bits")
    return (
        sb.join(cb, ["w1", "w2"], "left")
        .join(cu, "w1", "left")
        .crossJoin(vocab)
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_bigrams"), bits)
        .select(
            id_col,
            "n_bigrams",
            F.round("_bits", 6).alias("bits_per_token"),
            F.round(F.pow(F.lit(2.0), F.col("_bits")), 4).alias("perplexity"),
        )
    )


# --- accent / diacritic folding (name-matching normalization) ------------
# Splink/recordlinkage-style clean-name step: spelling variants that differ
# only in diacritics (Müller/Muller, José/Jose) must block and compare
# equal. Engine portability the usual way: BOTH the Spark expression and
# the DuckDB SQL are GENERATED from the same mapping tables below, so
# parity is by construction — never dependent on any engine's ICU build
# (DuckDB's strip_accents, e.g., folds é→e but leaves ł untouched).
# One-to-one folds go through a single translate() (JVM codegen,
# zero-shuffle); the handful of multi-char expansions (ß→ss, æ→ae, …)
# through an explicit replace chain in both engines.

ACCENT_FOLD_1TO1 = {
    "à": "a", "á": "a", "â": "a", "ã": "a", "ä": "a", "å": "a", "ā": "a",
    "ă": "a", "ą": "a",
    "è": "e", "é": "e", "ê": "e", "ë": "e", "ē": "e", "ė": "e", "ę": "e",
    "ě": "e",
    "ì": "i", "í": "i", "î": "i", "ï": "i", "ī": "i", "į": "i", "ı": "i",
    "ò": "o", "ó": "o", "ô": "o", "õ": "o", "ö": "o", "ø": "o", "ō": "o",
    "ő": "o",
    "ù": "u", "ú": "u", "û": "u", "ü": "u", "ū": "u", "ů": "u", "ű": "u",
    "ų": "u",
    "ç": "c", "ć": "c", "č": "c", "ĉ": "c",
    "ñ": "n", "ń": "n", "ň": "n", "ņ": "n",
    "ý": "y", "ÿ": "y",
    "š": "s", "ś": "s", "ş": "s", "ș": "s",
    "ž": "z", "ź": "z", "ż": "z",
    "ł": "l", "ľ": "l", "ĺ": "l", "ļ": "l",
    "ď": "d", "đ": "d", "ð": "d",
    "ť": "t", "ţ": "t", "ț": "t",
    "ř": "r", "ŕ": "r",
    "ğ": "g", "ĝ": "g", "ġ": "g",
    "ĥ": "h", "ħ": "h",
    "ŵ": "w", "ŷ": "y",
}
ACCENT_FOLD_MULTI = {"ß": "ss", "æ": "ae", "œ": "oe", "ĳ": "ij"}


def fold_accents_expr(col: F.Column) -> F.Column:
    """Spark expression folding the tables above (lowercase input assumed;
    compose with F.lower upstream). translate() handles every one-to-one
    fold in a single pass; the multi-char expansions chain replace()."""
    src = "".join(ACCENT_FOLD_1TO1)
    dst = "".join(ACCENT_FOLD_1TO1.values())
    out = F.translate(col, src, dst)
    for k, v in ACCENT_FOLD_MULTI.items():
        out = F.replace(out, F.lit(k), F.lit(v))
    return out


def fold_accents_sql(expr: str) -> str:
    """The identical fold as DuckDB SQL over `expr` — generated from the
    same tables, so the two engines agree char-for-char."""
    src = "".join(ACCENT_FOLD_1TO1).replace("'", "''")
    dst = "".join(ACCENT_FOLD_1TO1.values()).replace("'", "''")
    out = f"translate({expr}, '{src}', '{dst}')"
    for k, v in ACCENT_FOLD_MULTI.items():
        out = f"replace({out}, '{k}', '{v}')"
    return out


def chunk_exact_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 20,
    persist_toks: bool = True,
) -> DataFrame:
    """Corpus-wide exact SPAN dedup at fixed token-window granularity — the
    chunk/paragraph-level pass of a pretraining curation pipeline
    (RefinedWeb §3.3 / Lee et al. "Deduplicating Training Data Makes
    Language Models Better", chunk-granular form): every document is split
    into consecutive `chunk_tokens`-token windows, a window whose exact
    text occurs anywhere earlier in the corpus (smallest (doc_id,
    chunk_idx) wins) is DROPPED, and each document is reassembled from its
    surviving windows. Boilerplate/quoted spans shared across documents
    survive exactly once, in their first host.

    Output: (id, dedup_text, n_chunks, n_kept). A document whose every
    window occurs earlier elsewhere comes back with dedup_text = '' and
    n_kept = 0 — the caller decides whether empty shells are then culled
    (doc-level ops like exact_dedup/gopher handle that).

    Scale shape (the reason this is groupBy-able at 100 TB): document TEXT
    NEVER SHUFFLES. The chunk relation that reaches the winner groupBy is
    (md5, doc_id, chunk_idx) — Catalyst prunes the chunk text away because
    the aggregate only touches the hash and the position — and the winner
    set (one row per distinct window) joins back to the docs table on the
    id, where each document re-slices its own token array locally to
    rebuild the surviving text. One map-side-combinable hash groupBy + one
    id-keyed join; both AQE-managed.

    Determinism/portability: chunks are lowercase [a-z0-9]+ token windows
    joined by ' ', winner = lexicographic min (doc_id, chunk_idx) — the
    DuckDB oracle (chunk_dedup query) replays winner selection and
    reassembly exactly."""
    toks = content_tokens(F.col(text_col))
    w = int(chunk_tokens)
    n_chunks = F.ceil(F.size("__toks") / F.lit(w)).cast("int")
    base = docs.select(
        F.col(id_col), toks.alias("__toks")
    ).withColumn("__nc", n_chunks)
    # base feeds the chunk-hash explode AND the reassembly join — without
    # materialization the full-corpus tokenize pass runs twice per action
    # (same discipline as block_minhash_lsh's signature persist; the checkpoint
    # store's tokens stage table at cluster scale). The persisted handle
    # rides on the returned DataFrame as `chunk_toks_cache`; long-lived
    # sessions release it with `release_chunk_cache(out)` after the
    # consuming action (round-4 advice: the cache otherwise accumulates
    # across repeated calls).
    if persist_toks:
        base = base.persist()
    ch = base.where(F.col("__nc") > 0).select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.col("__nc") - 1),
                lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("__toks"), i * w + 1, w))),
            )
        ).alias("chunk_idx", "h"),
    )
    winners = ch.groupBy("h").agg(
        F.min(F.struct(F.col(id_col), F.col("chunk_idx"))).alias("wn")
    )
    keep = (
        winners.select(
            F.col("wn")[id_col].alias(id_col),
            F.col("wn")["chunk_idx"].alias("chunk_idx"),
        )
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_list("chunk_idx")).alias("__keep"))
    )
    out = (
        base.join(keep, id_col, "left")
        .select(
            F.col(id_col),
            F.concat_ws(
                " ",
                F.transform(
                    F.coalesce(
                        F.col("__keep"), F.array().cast("array<int>")
                    ),
                    lambda i: F.concat_ws(
                        " ", F.slice(F.col("__toks"), i * w + 1, w)
                    ),
                ),
            ).alias("dedup_text"),
            F.col("__nc").alias("n_chunks"),
            F.coalesce(F.size("__keep"), F.lit(0)).alias("n_kept"),
        )
    )
    if persist_toks:
        out.chunk_toks_cache = base
    return out


def chunk_near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 20,
    shingle_n: int = 3,
    num_perm: int = 64,
    num_bands: int = 16,
    rows_per_band: int = 4,
    max_bucket: int = 200,
    threshold: float | None = 0.25,
) -> DataFrame:
    """Chunk-level NEAR-dup candidate pairs — the production (xxhash) twin
    of the md5-portable entry query `chunk_near_dup`, promoted per the
    round-4 verdict: fuzzy boilerplate that mutates slightly between host
    documents (footer years, version strings) surfaces as window pairs
    the exact-span pass (`chunk_exact_dedup`) cannot catch.

    Documents are split into consecutive `chunk_tokens`-token lowercase
    windows (the same [a-z0-9]+ chunk tokenization as chunk_exact_dedup)
    and the windows run through the FULL production blocking path —
    `blocking.block_minhash_lsh`: xxhash64 MinHash signatures, banded
    equi-join, `salt_cell_assignment` splitting hot buckets (a corpus-wide
    boilerplate window IS the hot-bucket case), est_jaccard verify.
    Window identity is a collision-proof string key doc_id ':' chunk_idx
    (no composite-int aliasing at any document length).

    Output: (left_doc, left_chunk, right_doc, right_chunk, est_jaccard);
    doc columns are strings (cast of id_col — callers joining back cast
    their id side). Scale shape inherits from the doc-level path
    unchanged: zero-shuffle signatures, bare-id band dedup, salted cells
    bounded by max_bucket.

    Reference anchor: the summarizer's corpus-wide token statistics
    (/root/reference/summarize.py:33-52) are the reference's closest
    analogue of corpus-wide span statistics; the reference itself has no
    sub-document dedup."""
    w = int(chunk_tokens)
    toks = content_tokens(F.col(text_col))
    base = docs.select(F.col(id_col), toks.alias("__toks")).withColumn(
        "__nc", F.ceil(F.size("__toks") / F.lit(w)).cast("int")
    )
    chunks = base.where(F.col("__nc") > 0).select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.col("__nc") - 1),
                lambda i: F.concat_ws(
                    " ", F.slice(F.col("__toks"), i * w + 1, w)
                ),
            )
        ).alias("chunk_idx", "chunk_text"),
    ).select(
        F.concat_ws(
            ":", F.col(id_col).cast("string"), F.col("chunk_idx").cast("string")
        ).alias("chunk_id"),
        "chunk_text",
    )
    pairs = block_minhash_lsh(
        chunks,
        id_col="chunk_id",
        text_col="chunk_text",
        shingle_n=shingle_n,
        num_perm=num_perm,
        num_bands=num_bands,
        rows_per_band=rows_per_band,
        max_bucket=max_bucket,
        threshold=threshold,
    )
    # decompose from the TAIL (':' then digits) so a string id that itself
    # contains ':' round-trips
    def doc_of(c):
        return F.regexp_replace(F.col(c), ":[0-9]+$", "")

    def chunk_of(c):
        return F.regexp_extract(F.col(c), "([0-9]+)$", 1).cast("int")

    return pairs.select(
        doc_of("left_id").alias("left_doc"),
        chunk_of("left_id").alias("left_chunk"),
        doc_of("right_id").alias("right_doc"),
        chunk_of("right_id").alias("right_chunk"),
        "est_jaccard",
    )


def release_chunk_cache(df: DataFrame) -> None:
    """Unpersist the token cache a chunk_exact_dedup output carries
    (no-op for frames without one). Call after the consuming action in a
    long-lived session — unpersisting earlier is safe (Spark recomputes)
    but forfeits the single-tokenize-pass benefit."""
    cache = getattr(df, "chunk_toks_cache", None)
    if cache is not None:
        cache.unpersist()
