"""Text-analysis operators for LLM-data pipelines ([EXT], SURVEY §2.B).

All pure built-in / higher-order functions — tokenization, scoring and
fingerprinting run JVM-side inside whole-stage codegen with zero
Python in the hot path, so each operator is a single scan with no
shuffle (except the wordcount groupBy). That is the 100 TB design:
per-row text ops scale linearly and partition trivially.

Determinism: all scores are integer counts or fixed-order double
arithmetic on them — bit-identical across engines (see registry.py).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from file_scraper_spark.registry import query
from file_scraper_spark.tables import load

# language marker words (tiny static stopword lists — public knowledge)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "in", "is"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein"),
    "es": ("el", "la", "los", "que", "de", "y", "es"),
    "fr": ("le", "la", "les", "et", "est", "une", "des"),
    "zh": ("的", "是", "了", "在", "我", "有", "和"),
}
#: deterministic argmax priority on ties
LANG_PRIORITY = ("en", "de", "es", "fr", "zh")

STOPWORDS = LANG_MARKERS["en"]

TOKEN_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"

FP_MOD = 10**15  # rolling-hash modulus; 31*mod fits in int64


def _words(col: str = "text") -> Column:
    return F.split(F.col(col), " ")


def _marker_count(words: Column, markers: tuple[str, ...]) -> Column:
    """# tokens that are in the marker list (higher-order filter —
    JVM-side, no UDF)."""
    marker_arr = F.array(*[F.lit(w) for w in markers])
    return F.size(F.filter(words, lambda w: F.array_contains(marker_arr, w)))


def _oracle_marker_count(markers: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{w}'" for w in markers)
    return f"len(list_filter(string_split(text, ' '), x -> list_contains([{lst}], x)))"


@query(
    "text_wordcount",
    oracle="""
    SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    GROUP BY word
    """,
)
def text_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic tokenize + explode + count. At scale the groupBy gets a
    map-side partial aggregate, so the shuffle carries one row per
    (partition, word) — vocabulary-sized, not corpus-sized."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(_words()).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@query(
    "text_tokens",
    oracle=f"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '{TOKEN_RE}')) AS INT) AS n_re_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_measured
    FROM documents
    """,
)
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish regex token count
    (letter runs / digit runs / single other-chars)."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(_words()).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(TOKEN_RE), F.lit(0))).alias(
            "n_re_tokens"
        ),
        F.length("text").cast("long").alias("n_chars_measured"),
    )


@query(
    "text_quality",
    oracle=f"""
    SELECT doc_id, n_words, stop_cnt,
           CAST(word_chars AS DOUBLE) / n_words AS avg_word_len,
           CAST(stop_cnt AS DOUBLE) / n_words AS stop_ratio,
           0.5 * (CAST(stop_cnt AS DOUBLE) / n_words)
             + 0.3 * least(CAST(n_words AS DOUBLE) / 50, CAST(1 AS DOUBLE))
             + 0.2 * least(CAST(word_chars AS DOUBLE) / n_words / 10,
                           CAST(1 AS DOUBLE)) AS quality_score
    FROM (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS INT) AS n_words,
             CAST({_oracle_marker_count(STOPWORDS)} AS INT) AS stop_cnt,
             CAST(length(replace(text, ' ', '')) AS INT) AS word_chars
      FROM documents
    )
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score from length / stopword-ratio /
    word-shape signals (the usual pre-training corpus filters)."""
    docs = load(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.size(_words()).alias("n_words"),
        _marker_count(_words(), STOPWORDS).alias("stop_cnt"),
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).alias("word_chars"),
    )
    avg_word_len = base.word_chars.cast("double") / base.n_words
    stop_ratio = base.stop_cnt.cast("double") / base.n_words
    return base.select(
        "doc_id",
        "n_words",
        "stop_cnt",
        avg_word_len.alias("avg_word_len"),
        stop_ratio.alias("stop_ratio"),
        (
            0.5 * stop_ratio
            + 0.3 * F.least(base.n_words.cast("double") / 50, F.lit(1.0))
            + 0.2 * F.least(avg_word_len / 10, F.lit(1.0))
        ).alias("quality_score"),
    )


@query(
    "text_langid",
    oracle=f"""
    SELECT doc_id, lang, s_en, s_de, s_es, s_fr, s_zh,
           CASE
             WHEN s_en >= greatest(s_de, s_es, s_fr, s_zh) THEN 'en'
             WHEN s_de >= greatest(s_es, s_fr, s_zh) THEN 'de'
             WHEN s_es >= greatest(s_fr, s_zh) THEN 'es'
             WHEN s_fr >= s_zh THEN 'fr'
             ELSE 'zh'
           END AS predicted
    FROM (
      SELECT doc_id, lang,
             CAST({_oracle_marker_count(LANG_MARKERS['en'])} AS INT) AS s_en,
             CAST({_oracle_marker_count(LANG_MARKERS['de'])} AS INT) AS s_de,
             CAST({_oracle_marker_count(LANG_MARKERS['es'])} AS INT) AS s_es,
             CAST({_oracle_marker_count(LANG_MARKERS['fr'])} AS INT) AS s_fr,
             CAST({_oracle_marker_count(LANG_MARKERS['zh'])} AS INT) AS s_zh
      FROM documents
    )
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID (n-gram-heuristic family): per-language
    integer scores + deterministic priority argmax. (The fixture text
    is synthetic word-soup, so `predicted` won't match `lang` — the
    operator contract is determinism, both engines agree exactly.)

    r13 continuation: the five per-language HOF filters (each an
    INTERPRETED lambda over every word — Catalyst does not codegen
    inside HOF lambdas) run per-doc in one kernel instead. Twin
    semantics: words = single-space split keeping empties; each score
    counts membership in the language's marker set; the priority
    argmax `s_lang >= greatest(later scores)` IS "first language in
    priority order attaining the max" (>= awards ties to the earlier
    language); NULL text propagates NULL scores and the CASE falls
    through every NULL comparison to the final 'zh' in both engines."""
    docs = load(spark, sf_dir, "documents")
    markers = {lang: frozenset(ms) for lang, ms in LANG_MARKERS.items()}
    order = LANG_PRIORITY

    def langid_rows(batches):
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            if not len(pdf):
                continue
            cols: dict = {lang: [] for lang in order}
            preds: list = []
            for text in pdf["text"]:
                if text is None:
                    for lang in order:
                        cols[lang].append(None)
                    preds.append(order[-1])
                    continue
                words = text.split(" ")
                scores = [
                    sum(w in markers[lang] for w in words)
                    for lang in order
                ]
                for lang, s in zip(order, scores):
                    cols[lang].append(s)
                best = max(scores)
                preds.append(order[scores.index(best)])
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "lang": pdf["lang"],
                    **{
                        f"s_{lang}": pd.array(cols[lang], dtype="Int32")
                        for lang in order
                    },
                    "predicted": preds,
                }
            )

    return docs.select("doc_id", "lang", "text").mapInPandas(
        langid_rows,
        "doc_id long, lang string, s_en int, s_de int, s_es int,"
        " s_fr int, s_zh int, predicted string",
    )


def _redact_batches(batches):
    """Arrow-native redaction kernel: synthetic-PII prepend + the two
    PII regexes + char length, all C-level over Arrow buffers — no
    Python string objects, no per-row JVM regex machinery.

    Bit-exact twin of the regexp_replace form it replaced (r14):
    pyarrow's ``replace_substring_regex`` is RE2, the same engine the
    DuckDB oracle runs — and both patterns are pure ASCII classes
    with greedy quantifiers (no alternation, no backrefs), where
    RE2's leftmost match and Java's leftmost-greedy scan produce
    identical non-overlapping match sequences; verified on a 26-case
    adversarial battery (unicode, NULLs, adjacent/overlapping PII,
    `....@....`, `++`, paren/dash runs) — Java == pyarrow-RE2 ==
    DuckDB on every case, plus the registry fuzz's PII-shaped-token
    corpora. The id%10 digit uses truncated (sign-preserving) modulo,
    matching both engines on any id sign;
    ``binary_join_element_wise``'s default emit_null reproduces
    concat's NULL propagation, and ``utf8_length`` is
    ``length(text)`` in chars. Output bytes are the input's UTF-8
    with ASCII spans substituted — multi-byte chars pass through
    untouched (ASCII classes cannot match inside a multi-byte
    UTF-8 char)."""
    import pyarrow as pa  # noqa: PLC0415
    import pyarrow.compute as pc  # noqa: PLC0415

    for batch in batches:
        if not batch.num_rows:
            continue
        doc_id = batch.column(0)
        text = batch.column(1)
        # doc_id - (doc_id / 10) * 10 with truncating integer division:
        # sign-preserving, NULL-propagating, no overflow at INT64_MIN
        digit = pc.subtract(doc_id, pc.multiply(pc.divide(doc_id, 10), 10))
        dirty = pc.binary_join_element_wise(
            "contact user",
            pc.cast(doc_id, pa.string()),
            "@example.com or +1-555-010",
            pc.cast(digit, pa.string()),
            " re: ",
            text,
            "",
        )
        redacted = pc.replace_substring_regex(
            pc.replace_substring_regex(
                dirty, pattern=r"[a-z0-9._]+@[a-z0-9.-]+",
                replacement="<EMAIL>",
            ),
            pattern=r"\+?[0-9][0-9()\-]{6,}",
            replacement="<PHONE>",
        )
        yield pa.RecordBatch.from_arrays(
            [
                doc_id,
                redacted,
                pc.cast(pc.utf8_length(text), pa.int64()),
            ],
            ["doc_id", "redacted", "orig_len"],
        )



@query(
    "text_redact",
    oracle="""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               'contact user' || CAST(doc_id AS VARCHAR)
                 || '@example.com or +1-555-010' || CAST(doc_id % 10 AS VARCHAR)
                 || ' re: ' || text,
               '[a-z0-9._]+@[a-z0-9.-]+', '<EMAIL>', 'g'),
             '\\+?[0-9][0-9()\\-]{6,}', '<PHONE>', 'g') AS redacted,
           CAST(length(text) AS BIGINT) AS orig_len
    FROM documents
    """,
)
def text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass (emails, phone-like numbers) — the scrubbing
    step of a training-data pipeline. The fixture has no PII, so
    deterministic synthetic PII is prepended in-query; the oracle
    applies identical rules.

    Scale shape (r14): one scan feeding one ``mapInArrow`` kernel
    (``_redact_batches``) — the corpus-regex family's last member
    moved off per-row Java regex onto vectorized RE2 over Arrow
    buffers (guide §4.2; the text_normalize/_langid/_repetition moves
    were r13). Zero shuffles, unchanged; per-pattern dialect proof in
    the kernel docstring."""
    docs = load(spark, sf_dir, "documents")
    return docs.select("doc_id", "text").mapInArrow(
        _redact_batches,
        "doc_id long, redacted string, orig_len long",
    )


@query(
    "doc_fingerprint",
    oracle=f"""
    SELECT doc_id,
           -- NULL guard (r9 docs fuzzer): Spark NULL-propagates
           -- (split->transform->aggregate of NULL is NULL), but
           -- DuckDB's list_prepend(0, NULL) RESURRECTS a [0] list
           -- and the fold returns 0 for a missing document body.
           -- Engine semantics is the contract: NULL text -> NULL
           -- fingerprint.
           CASE WHEN text IS NULL THEN NULL ELSE
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
             (acc, c) -> (acc * 31 + c) % {FP_MOD}) END AS fingerprint
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rabin-Karp-style rolling hash over the character stream as a
    compact document fingerprint.

    r13 optimization (guide §4.2): the r12 form was a higher-order
    ``aggregate`` over ``split(text, '')`` — Catalyst evaluates HOF
    lambdas INTERPRETED (no whole-stage codegen inside the lambda)
    and materializes a one-char-string array per document, so every
    character paid an interpreted closure call plus a string alloc.
    This form hands whole Arrow batches to a numpy kernel: decode
    each text to its code points in one C call (utf-32), then run the
    Horner fold VECTORIZED ACROSS THE BATCH — one masked
    ``(acc*31 + code) % MOD`` step per character *position*, each a
    numpy op over all docs in the batch at once (docs cap at ~1k
    chars, so the loop is short; padding positions are masked so they
    never touch acc). 31*MOD fits int64, so the arithmetic is exact —
    bit-identical to the fold (same A/B-proven pattern as the
    clustering/PQ kernels). Same-JVM A/B + plan diff (HOF Generate
    pipeline -> one MapInPandas over (doc_id, text)) in
    OPTIMIZATION_r13.md; the superseded HOF form is retired and its
    final pairs are in BENCH_r14.

    Scale shape: one scan, zero shuffles, embarrassingly parallel —
    unchanged from the HOF form; only the per-task execution engine
    changed (guide §1.2 step 2)."""
    docs = load(spark, sf_dir, "documents")

    def fold(batches):
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        mod = FP_MOD
        for pdf in batches:
            if not len(pdf):
                continue
            texts = pdf["text"]
            n = len(texts)
            lens = np.zeros(n, dtype=np.int64)
            arrs: list = [None] * n
            for i, t in enumerate(texts):
                if t is None:
                    continue
                a = np.frombuffer(
                    t.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
                arrs[i] = a
                lens[i] = len(a)
            maxlen = int(lens.max()) if n else 0
            # (maxlen, n) so each Horner step reads one contiguous row
            mat = np.zeros((maxlen, n), dtype=np.int64)
            for i, a in enumerate(arrs):
                if a is not None and len(a):
                    mat[: len(a), i] = a
            acc = np.zeros(n, dtype=np.int64)
            for j in range(maxlen):
                acc = np.where(
                    j < lens, (acc * 31 + mat[j]) % mod, acc
                )
            out = acc.astype(object)
            for i, a in enumerate(arrs):
                if a is None:
                    out[i] = None
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].to_numpy(), "fingerprint": out}
            )

    return docs.select("doc_id", "text").mapInPandas(
        fold, "doc_id long, fingerprint long"
    )


def _bigrams(words: Column) -> Column:
    """Bigram array: words[i] + ' ' + words[i+1].

    Formulated as ``zip_with(slice(w, 1, n-1), slice(w, 2, n-1), ..)``
    — each slice evaluates the words array once per ROW. The obvious
    ``transform(sequence(1, n-1), i -> element_at(w, i) ..)`` is ~9x
    slower at 10x scale: Catalyst re-inlines the `split` into every
    `element_at` call, re-splitting the text per element — O(L^2) per
    document (measured 24s vs 2.6s on the 10x probe)."""
    n = F.size(words) - 1
    return F.zip_with(
        F.slice(words, 1, n),
        F.slice(words, 2, n),
        lambda a, b: F.concat_ws(" ", a, b),
    )


_ORACLE_BIGRAMS = (
    "list_transform(range(1, len(string_split(text, ' '))),"
    " i -> string_split(text, ' ')[i] || ' '"
    " || string_split(text, ' ')[i+1])"
)


@query(
    "text_repetition",
    oracle=f"""
    WITH bg AS (
      SELECT doc_id, {_ORACLE_BIGRAMS} AS bigrams
      FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    )
    SELECT doc_id,
           CAST(len(bigrams) AS BIGINT) AS n_bigrams,
           CAST(len(list_distinct(bigrams)) AS BIGINT) AS n_distinct,
           CAST(floor(1000000.0 * (1.0 -
             CAST(len(list_distinct(bigrams)) AS DOUBLE)
             / len(bigrams))) AS BIGINT) AS rep_q
    FROM bg
    """,
    tags=("text", "quality"),
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-bigram ratio — the duplicate-n-gram quality signal of
    C4/Gopher-style corpus filters (a high ratio flags boilerplate
    and degenerate repetition). One scan, no shuffle — the
    per-document shape that scales linearly to 100 TB.

    r13 continuation: the zip_with bigram HOF (interpreted lambda +
    a concat allocation per bigram) and array_distinct move into one
    per-doc kernel. Twin semantics: words = single-space split
    keeping empties; distinct of (w[i], w[i+1]) TUPLES equals
    distinct of the 'w1 w2' strings because split words cannot
    contain the separator; docs with < 2 words (or NULL text) were
    dropped by the size filter and emit nothing here; rep_q runs the
    identical IEEE ops (1e6 * (1 - d/n), floored) on the same ints."""
    docs = load(spark, sf_dir, "documents")

    def rep_rows(batches):
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415
        from math import floor  # noqa: PLC0415

        for pdf in batches:
            if not len(pdf):
                continue
            ids: list = []
            ns: list = []
            ds: list = []
            reps: list = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:
                    continue
                words = text.split(" ")
                n = len(words) - 1
                if n < 1:
                    continue
                d = len(set(zip(words, words[1:])))
                ids.append(doc_id)
                ns.append(n)
                ds.append(d)
                reps.append(floor(1_000_000.0 * (1.0 - d / n)))
            if ids:
                yield pd.DataFrame(
                    {
                        "doc_id": np.array(ids, dtype=np.int64),
                        "n_bigrams": np.array(ns, dtype=np.int64),
                        "n_distinct": np.array(ds, dtype=np.int64),
                        "rep_q": np.array(reps, dtype=np.int64),
                    }
                )

    return docs.select("doc_id", "text").mapInPandas(
        rep_rows,
        "doc_id long, n_bigrams long, n_distinct long, rep_q long",
    )


@query(
    "text_diversity",
    oracle="""
    WITH counts AS (
      SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
            FROM documents)
      GROUP BY doc_id, w
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(floor(1000000 * CAST(SUM(c * c) AS DOUBLE)
                / CAST(SUM(c) * SUM(c) AS DOUBLE)) AS BIGINT)
             AS simpson_q,
           CAST(floor(1000000 * CAST(MAX(c) AS DOUBLE)
                / CAST(SUM(c) AS DOUBLE)) AS BIGINT) AS top_share_q
    FROM counts GROUP BY doc_id
    """,
    tags=("text",),
)
def text_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity quality signals per document: Simpson
    concentration sum(p_i^2) over the word-frequency distribution and
    the top-word share max(c)/n — the frequency-SKEW complement to
    text_repetition's distinctness ratio (a doc can have many
    distinct bigrams yet be dominated by one token; Simpson flags
    that, Gopher-style filters threshold both).

    Deliberately LOG-FREE: Shannon entropy would be the textbook
    measure, but `log` is libm-dependent and not bit-identical across
    engines (same rationale as text_tfidf_topterms' ratio weight);
    Simpson concentration carries the same ordering signal as a ratio
    of exact integer aggregates — sum(c^2) and n are bigints, ONE
    IEEE division per doc, quantized floor(1e6*x) — so the gate
    compares bit-exactly.

    Scale shape: explode + two hash aggregations ((doc_id, word) then
    doc_id), both map-side combined; no joins, no windows — linear to
    100 TB like text_wordcount."""
    docs = load(spark, sf_dir, "documents")
    counts = (
        docs.select("doc_id", F.explode(_words()).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = F.sum("c")
    s2 = F.sum(F.col("c") * F.col("c"))
    cmax = F.max("c")
    return counts.groupBy("doc_id").agg(
        n.cast("long").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.floor(
            1_000_000 * s2.cast("double") / (n * n).cast("double")
        ).cast("long").alias("simpson_q"),
        F.floor(
            1_000_000 * cmax.cast("double") / n.cast("double")
        ).cast("long").alias("top_share_q"),
    )


@query(
    "text_topn_ngrams",
    oracle=f"""
    SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
    FROM (
      SELECT unnest({_ORACLE_BIGRAMS}) AS bigram
      FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    )
    GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT 20
    """,
    tags=("text",),
)
def text_topn_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-20 bigrams — the collocation profile used for
    boilerplate discovery (over-represented n-grams across documents
    betray templated text). Explode + count + ordered limit; ties
    broken by the bigram string for a total order.

    Scale shape: the explode multiplies rows ~L-fold but map-side
    combine collapses them to distinct bigrams per partition before
    the shuffle; the top-k is a TakeOrderedAndProject (per-partition
    heaps, no global sort materialization)."""
    words = _words()
    return (
        load(spark, sf_dir, "documents")
        .filter(F.size(words) >= 2)
        .select(F.explode(_bigrams(words)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(20)
    )


#: UTF-8 bytes DELETED by the normalization char class [^a-z0-9 ]:
#: everything but ASCII lowercase/digits/space. Deleting these BYTES
#: from UTF-8 equals deleting those CHARS — every byte of a multi-byte
#: sequence is >= 0x80, so non-ASCII chars vanish whole.
_NORM_DELETE = bytes(
    c
    for c in range(256)
    if c not in b"abcdefghijklmnopqrstuvwxyz0123456789 "
)


def _norm_bytes(text: str) -> bytes:
    """Bit-exact bytes twin of the normalization expression
    ``trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]',
    ''), ' +', ' '))`` — all C-level ops, no regex:

    - ``str.lower()`` is the Unicode default case conversion, the
      same mapping Spark's UTF8String.toLowerCase (Locale.ROOT) and
      DuckDB's utf8proc apply for every char the class can keep; the
      one full-vs-simple mapping divergence (U+0130 lowers to
      "i"+U+0307 full, "i" simple) converges after the strip deletes
      the combining dot — both engines keep exactly "i".
    - ``translate(None, _NORM_DELETE)`` is the char-class strip (see
      _NORM_DELETE: byte-level == char-level on UTF-8).
    - only 0x20 survives the strip, so ``split()`` (any-whitespace,
      empties dropped) + single-space ``join`` IS collapse-runs+trim.
    The result is pure ASCII, so byte length == char length and the
    md5 input bytes are identical to Spark's cast-to-binary."""
    return b" ".join(
        text.lower().encode("utf-8").translate(None, _NORM_DELETE).split()
    )


def _normalize_rows(batches):
    """Per-doc kernel for text_normalize: (doc_id, text) in,
    (doc_id, norm_len, norm_md5) out; NULL text propagates to NULL
    outputs exactly like the expression form."""
    import pandas as pd  # noqa: PLC0415
    from hashlib import md5  # noqa: PLC0415

    for pdf in batches:
        if not len(pdf):
            continue
        lens: list = []
        digs: list = []
        for text in pdf["text"]:
            if text is None:
                lens.append(None)
                digs.append(None)
            else:
                nb = _norm_bytes(text)
                lens.append(len(nb))
                digs.append(md5(nb).hexdigest())
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "norm_len": pd.array(lens, dtype="Int64"),
                "norm_md5": digs,
            }
        )


@query(
    "text_normalize",
    oracle="""
    SELECT doc_id,
           CAST(length(norm) AS BIGINT) AS norm_len,
           md5(norm) AS norm_md5
    FROM (
      SELECT doc_id,
             trim(regexp_replace(regexp_replace(lower(text),
                    '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm
      FROM documents
    )
    """,
    tags=("text",),
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization — lowercase, strip non-alphanumerics,
    collapse runs of whitespace, trim — the preprocessing pass that
    feeds exact/near dedup (two documents differing only in case or
    punctuation normalize to the same bytes). The result ships as
    (length, md5) so the comparator sees scalars; the md5 doubles as
    the exact-dedup key downstream.

    Scale shape: pure per-row projection — one scan, one per-doc
    kernel pass (``_normalize_rows``), no shuffle. r13: the codegen'd
    double-regex pipeline was the engine's slowest 100x scan row
    (42.4s) AND the Project evaluated the whole pipeline TWICE per row
    (once under length, once under md5 — CollapseProject inlines the
    shared subexpression); the kernel normalizes once per doc with
    C-level byte ops (no regex at all, see ``_norm_bytes``) and ships
    only (doc_id, text) across the Arrow boundary. At 100 TB this runs
    at parquet-scan speed and is where a pipeline normalizes BEFORE
    any shuffle-heavy dedup stage, so byte-identical variants collapse
    as early as possible."""
    return (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .mapInPandas(
            _normalize_rows, "doc_id long, norm_len long, norm_md5 string"
        )
    )


TFIDF_TOPK = 3


@query(
    "text_tfidf_topterms",
    oracle=f"""
    WITH tf AS (
      SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
            FROM documents)
      GROUP BY doc_id, word
    ), df AS (
      SELECT word, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM tf GROUP BY word
    ), scored AS (
      SELECT t.doc_id, t.word, t.tf, d.df,
             CAST(t.tf AS DOUBLE) / d.df AS relevance,
             row_number() OVER (
               PARTITION BY t.doc_id
               ORDER BY CAST(t.tf AS DOUBLE) / d.df DESC, t.word
             ) AS rnk
      FROM tf t JOIN df d USING (word)
    )
    SELECT doc_id, word, tf, df, relevance, CAST(rnk AS BIGINT) AS rnk
    FROM scored WHERE rnk <= {TFIDF_TOPK}
    """,
    tags=("text",),
)
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-k distinguishing terms by a TF-IDF-family
    weight: term frequency over document frequency (monotone in tf,
    anti-monotone in df, like tf*idf; chosen over the log form because
    a ratio of exact integers is bit-identical across engines while
    `log` is libm-dependent). The keyword-extraction primitive of
    corpus exploration.

    Scale shape: two hash aggregations (tf: map-side combined on
    (doc, word); df: on word — both shuffles carry one row per
    distinct key per partition), one shuffle join of tf against the
    much smaller df (AQE broadcasts it when it fits), and a
    per-document top-k window. No global sort; the only wide frame is
    partitioned by doc_id."""
    words = _words()
    tf = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.explode(words).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("word").agg(
        F.countDistinct("doc_id").alias("df")
    )
    rel = F.col("tf").cast("double") / F.col("df")
    w = Window.partitionBy("doc_id").orderBy(rel.desc(), F.col("word"))
    return (
        tf.join(df, "word")
        .select(
            "doc_id",
            "word",
            "tf",
            "df",
            rel.alias("relevance"),
            F.row_number().over(w).alias("rnk").cast("long").alias("rnk"),
        )
        .filter(F.col("rnk") <= TFIDF_TOPK)
    )


@query(
    "text_heavy_hitters",
    oracle="""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ), cnts AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY tok
    ), ranked AS (
      SELECT tok, cnt,
             CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, tok ASC) AS BIGINT)
               AS rnk
      FROM cnts
    )
    SELECT tok, cnt, rnk, TRUE AS sk_ok FROM ranked WHERE rnk <= 20
    """,
    tags=("approx", "text"),
)
def text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level frequent-token detection via approx_top_k — the
    sketch-based heavy-hitters pass a training pipeline runs to build
    stopword/boilerplate lists without a full token groupBy. One
    aggregation with O(maxItemsTracked) state per partial (vs a
    shuffle of every distinct token for the exact count): the 100 TB
    shape.

    Driver-checkable via the est_ok exact-twin pattern: the result is
    the EXACT top-20 tokens (count desc, token asc) with ``sk_ok`` =
    the sketch surfaced this token with its exact count. Valid while
    the corpus vocabulary fits maxItemsTracked (fixture: 31 distinct
    tokens << 4096 — the sketch is then provably exact); the bound
    fails loudly if a future fixture's tail outgrows the tracked
    space. (At 100 TB you ship ONLY the sketch column; the exact
    groupBy twin exists for the correctness gate.)

    The exact twin takes its top-20 with ``orderBy(...).limit(20)``
    (physical ``TakeOrderedAndProject`` — a distributed per-partition
    top-k + driver merge of 20-row heads), NOT a global row_number
    window: an unpartitioned ``WindowExec`` would move every distinct
    token (10^8-10^9 at web scale) through one partition to rank them
    and keep 20. The rank is then attached to the *bounded* 20-row
    result by a broadcast self-join peer count (rnk = #rows preceding
    or equal under (cnt DESC, tok ASC); exact row_number because tok
    is a groupBy key, so the sort key is unique) — a 20x20
    nested-loop, warning-free, no single-partition stage anywhere.
    Plan pinned in tests/test_plans.py
    (test_heavy_hitters_no_global_window)."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split("text", " ")).alias("tok"))
    sk = (
        toks.select(F.expr("approx_top_k(tok, 100, 4096)").alias("top"))
        .select(F.explode("top").alias("e"))
        .select(
            F.col("e.item").alias("tok"),
            F.col("e.count").alias("est_count"),
        )
    )
    top = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("tok"))
        .limit(20)
    )
    peers = F.broadcast(
        top.select(F.col("tok").alias("r_tok"), F.col("cnt").alias("r_cnt"))
    )
    precedes = (F.col("r_cnt") > F.col("cnt")) | (
        (F.col("r_cnt") == F.col("cnt")) & (F.col("r_tok") <= F.col("tok"))
    )
    exact = (
        top.join(peers, precedes)
        .groupBy("tok", "cnt")
        .agg(F.count(F.lit(1)).cast("long").alias("rnk"))
    )
    return (
        exact.join(sk, "tok", "left")
        .select(
            "tok",
            "cnt",
            "rnk",
            (
                F.col("est_count").isNotNull()
                & (F.col("est_count") == F.col("cnt"))
            ).alias("sk_ok"),
        )
        .orderBy("rnk")
    )


#: quality_funnel stage thresholds (the cleaning cascade a corpus
#: build applies; values tuned to the fixture so every stage drops
#: SOMETHING and the funnel shape is visible)
FUNNEL_MIN_WORDS = 20
FUNNEL_MIN_STOP_RATIO = 0.05


@query(
    "quality_funnel",
    oracle=f"""
    WITH feat AS (
      SELECT doc_id, text,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
             CAST({_oracle_marker_count(STOPWORDS)} AS BIGINT) AS stop_cnt,
             (doc_id = MIN(doc_id) OVER (PARTITION BY text)) AS keeper
      FROM documents
    ), flags AS (
      SELECT doc_id,
             (n_words >= {FUNNEL_MIN_WORDS}) AS f_len,
             (CAST(stop_cnt AS DOUBLE) / n_words
                >= {FUNNEL_MIN_STOP_RATIO}) AS f_stop,
             keeper AS f_dedup
      FROM feat
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN f_len THEN 1 ELSE 0 END) AS BIGINT)
             AS n_after_len,
           CAST(SUM(CASE WHEN f_len AND f_stop THEN 1 ELSE 0 END)
             AS BIGINT) AS n_after_stop,
           CAST(SUM(CASE WHEN f_len AND f_stop AND f_dedup THEN 1 ELSE 0
             END) AS BIGINT) AS n_after_dedup
    FROM flags
    """,
    tags=("text", "pipeline"),
)
def quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-cascade survival report: how many docs remain after each
    stage of a cleaning pipeline (length floor -> stopword-ratio floor
    -> exact-dedup keeper) — the observability query a corpus build
    runs to see WHERE its data went; a stage that silently drops 90%
    shows up here, not in a downstream eval.

    Scale shape: per-doc flags are one pass of JVM expressions; the
    dedup-keeper flag shuffles on xxhash64(text) — an 8-byte exchange
    key, not the full document text — by repartitioning on the hash
    and windowing over (hash, text): HashPartitioning(h) already
    satisfies the (h, text) window's clustering requirement, so no
    second exchange appears (plan-tested), and keeping the raw text in
    the window partition IS the collision re-verify — two distinct
    texts that collide on the hash land in the same Spark partition
    but different window groups, so semantics stay exact. The funnel
    itself is a single global aggregate of four conditional sums (one
    partial-agg row per partition)."""
    docs = load(spark, sf_dir, "documents")
    words = _words()
    keeper_w = Window.partitionBy("h", "text")
    feat = (
        docs.withColumn("h", F.xxhash64("text"))
        .repartition(F.col("h"))
        .select(
            "doc_id",
            F.size(words).cast("long").alias("n_words"),
            _marker_count(words, STOPWORDS).cast("long").alias("stop_cnt"),
            (F.col("doc_id") == F.min("doc_id").over(keeper_w)).alias(
                "f_dedup"
            ),
        )
    )
    flags = feat.select(
        (F.col("n_words") >= FUNNEL_MIN_WORDS).alias("f_len"),
        (
            F.col("stop_cnt").cast("double") / F.col("n_words")
            >= FUNNEL_MIN_STOP_RATIO
        ).alias("f_stop"),
        "f_dedup",
    )
    return flags.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(F.col("f_len"), 1).otherwise(0)).alias("n_after_len"),
        F.sum(
            F.when(F.col("f_len") & F.col("f_stop"), 1).otherwise(0)
        ).alias("n_after_stop"),
        F.sum(
            F.when(
                F.col("f_len") & F.col("f_stop") & F.col("f_dedup"), 1
            ).otherwise(0)
        ).alias("n_after_dedup"),
    )


# --- BM25 retrieval ---------------------------------------------------

#: Okapi BM25 constants (public-standard defaults)
BM25_K1 = 1.2
BM25_B = 0.75
#: query = the QN most frequent content words (length >= MINLEN chars,
#: the deterministic stopword-free proxy), derived in-plan
BM25_QN = 3
BM25_MINLEN = 6
BM25_TOPK = 10


@query(
    "text_bm25_topk",
    oracle=f"""
    WITH tf AS (
      SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
            FROM documents)
      GROUP BY doc_id, word
    ), dl AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
      FROM documents
    ), stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
      FROM dl
    ), qterms AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS df
      FROM tf WHERE length(word) >= {BM25_MINLEN}
      GROUP BY word
      ORDER BY SUM(tf) DESC, word
      LIMIT {BM25_QN}
    ), scored AS (
      SELECT t.doc_id,
             CAST(floor(
               ((CAST(s.n_docs AS DOUBLE) - CAST(q.df AS DOUBLE) + 0.5)
                  / (CAST(q.df AS DOUBLE) + 0.5))
               * ((CAST(t.tf AS DOUBLE) * 2.2)
                  / (CAST(t.tf AS DOUBLE)
                     + 1.2 * (0.25 + 0.75
                              * (CAST(d.dl AS DOUBLE) / s.avgdl))))
               * 1000000.0) AS BIGINT) AS sc_q
      FROM tf t JOIN qterms q USING (word)
      JOIN dl d ON d.doc_id = t.doc_id
      CROSS JOIN stats s
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(SUM(sc_q) AS BIGINT) AS score_q
    FROM scored GROUP BY doc_id
    ORDER BY score_q DESC, doc_id
    LIMIT {BM25_TOPK}
    """,
    tags=("text",),
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-k retrieval: score every document against a
    query of the corpus's BM25_QN most frequent content words
    (len >= BM25_MINLEN — the deterministic stopword-free proxy) and
    return the 10 best. The lexical-retrieval primitive of corpus
    tooling (contamination probes, RAG corpus prep, boilerplate
    hunting by querying template phrases).

    Determinism: the idf is the RATIONAL Robertson form
    (N - df + 0.5)/(df + 0.5) — no `log`, whose libm rounding differs
    between engines (same policy as text_tfidf_topterms); per-term
    scores are quantized floor(1e6*x) BIGINTs before the per-doc sum,
    so partial-aggregation order cannot perturb the total, and the
    final ORDER BY ties are broken by doc_id. All double arithmetic
    is spelled operation-for-operation identically in both engines
    (IEEE ops are exact-rounded, so identical trees give identical
    bits; only libm calls would diverge). Envelope: sc_q <= ~1e6 * N;
    beyond ~1e12 docs switch the idf to the log form and accept an
    epsilon gate, or widen to DECIMAL.

    Scale shape: tf is the wordcount aggregation (map-side combined,
    linear); qterms is a corpus-vocabulary top-QN
    (TakeOrderedAndProject) that Spark then BROADCASTS into the
    posting-list join, so only the QN query terms' postings survive
    the probe — the moral equivalent of reading QN posting lists from
    an inverted index instead of rank-scanning the corpus; stats is a
    broadcast one-row cross join (the accepted tiny-dim pattern). The
    per-doc sum touches <= QN rows per doc and the top-k is again a
    per-partition heap, no global sort."""
    docs = load(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(_words()).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dl = docs.select(
        "doc_id", F.size(_words()).cast("long").alias("dl")
    )
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    qterms = (
        tf.filter(F.length("word") >= BM25_MINLEN)
        .groupBy("word")
        .agg(F.sum("tf").alias("cnt"), F.count(F.lit(1)).alias("df"))
        .orderBy(F.col("cnt").desc(), "word")
        .limit(BM25_QN)
        .select("word", "df")
    )
    idf = (
        F.col("n_docs").cast("double") - F.col("df").cast("double") + 0.5
    ) / (F.col("df").cast("double") + 0.5)
    tfs = (F.col("tf").cast("double") * 2.2) / (
        F.col("tf").cast("double")
        + 1.2 * (0.25 + 0.75 * (F.col("dl").cast("double") / F.col("avgdl")))
    )
    scored = (
        tf.join(F.broadcast(qterms), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.floor(idf * tfs * F.lit(1000000.0)).alias("sc_q"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("sc_q").alias("score_q"),
        )
        .orderBy(F.col("score_q").desc(), "doc_id")
        .limit(BM25_TOPK)
    )


# --- bigram LM scoring ------------------------------------------------

#: the bigram-LM derivation (occurrences, model counts, per-doc
#: quantized score sum) as a reusable oracle fragment — shared by
#: text_lm_score and text_ccnet_buckets so the two can never drift
#: (same policy as dedup's _CLUSTERS_TAIL_SQL)
_LM_CTE_SQL = f"""
    WITH db AS (
      SELECT doc_id, bigram, string_split(bigram, ' ')[1] AS w1
      FROM (SELECT doc_id, unnest({_ORACLE_BIGRAMS}) AS bigram
            FROM documents
            WHERE len(string_split(text, ' ')) >= 2)
    ), bc AS (
      SELECT bigram, CAST(COUNT(*) AS BIGINT) AS bc
      FROM db GROUP BY bigram
    ), uc AS (
      SELECT w1, CAST(COUNT(*) AS BIGINT) AS uc
      FROM db GROUP BY w1
    ), lm_scores AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(SUM(CAST(floor(
                   (CAST(b.bc AS DOUBLE) / CAST(u.uc AS DOUBLE))
                   * 1000000.0) AS BIGINT)) AS BIGINT) AS p_q_sum
      FROM db JOIN bc b USING (bigram) JOIN uc u USING (w1)
      GROUP BY doc_id
    )
    """


@query(
    "text_lm_score",
    oracle=_LM_CTE_SQL
    + "SELECT doc_id, n_bigrams, p_q_sum FROM lm_scores",
    tags=("text",),
)
def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model fluency score: train transition
    probabilities p(w2|w1) = count(w1 w2)/count(w1 ·) on the corpus
    itself, then score every document by its summed (quantized)
    transition probability — the train-LM-then-filter quality gate of
    pre-training pipelines (docs whose word transitions are atypical
    for the corpus score low: gibberish, wrong-language, templated
    key-value noise).

    Determinism: per-occurrence probabilities are single IEEE
    divisions of exact integer counts, quantized floor(1e6*x) BEFORE
    the per-doc sum (p in (0,1], so each addend <= 1e6 — summation is
    exact BIGINT arithmetic in any order; a double sum here would be
    order-dependent). No log: the quantized-sum score is the same
    ranking signal for a filter threshold (same policy as
    text_tfidf_topterms / text_diversity).

    Scale shape (r13 optimization): one bigram explode feeds ONE
    map-side-combined hash aggregation (the bigram model bc); the
    prefix marginal uc is derived FROM bc — sum(bc) grouped by the
    bigram's first word — a vocabulary-sized aggregation instead of a
    second corpus-sized pass, and the per-bigram quantized probability
    is attached to bc by a vocab⋈vocab join. The occurrence frame then
    pays exactly ONE equi-join (against the finished model) instead of
    two, and never computes a per-occurrence substring_index. (r12
    form: 3 corpus explodes, 2 corpus-side joins, 2 corpus-sized model
    aggregations; same-JVM A/B and plan diff in OPTIMIZATION_r13.md.)
    Model tables are vocabulary-sized (<< corpus), so AQE broadcasts
    them when they fit; the per-doc sum is map-side combinable. Linear
    at 100 TB; at web-scale vocab the join degrades gracefully to a
    shuffle join on uniformly-hashed n-gram keys."""
    docs = load(spark, sf_dir, "documents")
    words = _words()
    db = docs.filter(F.size(words) >= 2).select(
        "doc_id", F.explode(_bigrams(words)).alias("bigram")
    )
    bc = db.groupBy("bigram").agg(F.count(F.lit(1)).alias("bc"))
    # marginal count per first word, from the model table (sum of the
    # bigram counts sharing the prefix == the occurrence count the
    # oracle aggregates corpus-side — exact, and vocab-sized here)
    uc = bc.groupBy(
        F.substring_index("bigram", " ", 1).alias("w1")
    ).agg(F.sum("bc").alias("uc"))
    p = F.col("bc").cast("double") / F.col("uc").cast("double")
    model = (
        bc.join(
            uc, F.substring_index(bc["bigram"], " ", 1) == uc["w1"]
        )
        .select("bigram", F.floor(p * F.lit(1000000.0)).alias("p_q"))
    )
    return (
        db.join(model, "bigram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("p_q").alias("p_q_sum"),
        )
    )


#: the CCNet tercile derivation as reusable CTEs — shared by
#: text_ccnet_buckets and quality_ensemble (the _LM_CTE_SQL policy)
_CCNET_CTES_SQL = """
    , sc AS (
      SELECT s.doc_id, d.lang,
             CAST(floor(CAST(s.p_q_sum AS DOUBLE)
                        / CAST(s.n_bigrams AS DOUBLE)) AS BIGINT)
               AS score_q
      FROM lm_scores s JOIN documents d USING (doc_id)
    ), ranked AS (
      SELECT doc_id, lang, score_q,
             ROW_NUMBER() OVER (
               PARTITION BY lang ORDER BY score_q DESC, doc_id
             ) AS rnk,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM sc
    ), bucketed AS (
      SELECT doc_id, lang, score_q,
             CASE WHEN rnk <= (n + 2) // 3 THEN 'head'
                  WHEN rnk <= (2 * n + 2) // 3 THEN 'middle'
                  ELSE 'tail' END AS bucket
      FROM ranked
    )
    """


@query(
    "text_ccnet_buckets",
    oracle=_LM_CTE_SQL
    + _CCNET_CTES_SQL
    + "SELECT doc_id, lang, score_q, bucket FROM bucketed",
    tags=("text", "pipeline"),
)
def text_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail partition: score every document
    with the corpus-trained bigram LM (text_lm_score's normalized
    per-bigram score — higher = more corpus-typical, the inverse of
    CCNet's perplexity where lower is better), then cut EACH LANGUAGE
    into exact fluency terciles — the published CCNet recipe (Wenzek
    et al. 2020) sorts each language's documents by LM perplexity and
    keeps the head/middle for pre-training. Docs with < 2 words have
    no bigram evidence and are excluded, as in text_lm_score.

    Determinism: the tercile is a RANK rule, rank = row_number over
    (lang ORDER BY score DESC, doc_id), head = rank <= ceil(n/3),
    middle = rank <= ceil(2n/3) — integer arithmetic end to end, so
    ties at a cut score split identically in both engines.

    Scale shape: the oracle's per-lang ROW_NUMBER would be a
    one-task-per-language global sort — a straggler at 100 TB. The
    engine computes the SAME rank without any global sort, the
    corpus_token_budget trick applied to ranks: the integer score has
    a bounded domain (floor of a mean of <= 1e6 quantized addends),
    so (1) a map-side-combined (lang, score) histogram — bounded by
    score domain x languages, NOT by corpus size — gets per-lang
    strict-greater cumulative counts and totals from a window over
    the tiny histogram; (2) each doc's within-tie offset is a
    row_number partitioned by (lang, score) — tie groups, never a
    whole language, so the sort is bounded by the largest same-score
    group; (3) rank = strict_greater_cum + tie_offset, and the
    bucket is a per-row CASE after joining the histogram back. The
    histogram join carries NO broadcast hint (the winnowing lesson,
    NOTES.md r13): AQE broadcasts it from runtime size when it fits
    and degrades to a hash join on (lang, score) — a uniform key —
    past the threshold. Shuffles: the tie window + that join — no
    lang-wide sort anywhere."""
    from pyspark.sql import Window  # noqa: PLC0415

    docs = load(spark, sf_dir, "documents")
    scores = text_lm_score(spark, sf_dir)
    # sc is localCheckpoint-materialized (r14): TWO consumers read it
    # (the (lang, score) histogram and the tie-offset window+join)
    # and Spark replicates the producing subtree per consumer — the
    # whole LM pipeline (bigram explodes + model join) ran twice per
    # ccnet call, and through it twice per quality_ensemble /
    # corpus_curriculum evaluation. Same fix and rationale as the
    # winnowing-fps / curriculum-keyed checkpoints; ~25 bytes/doc,
    # rebuilt from parquet on every run.
    sc = (
        scores.join(docs.select("doc_id", "lang"), "doc_id")
        .select(
            "doc_id",
            "lang",
            F.floor(
                F.col("p_q_sum").cast("double")
                / F.col("n_bigrams").cast("double")
            )
            .cast("long")
            .alias("score_q"),
        )
        .localCheckpoint(eager=False)
    )
    # bounded-domain histogram: strict-greater cumulative count and
    # per-lang total, both computed over histogram rows (score-domain
    # sized), never over documents
    hw = (
        Window.partitionBy("lang")
        .orderBy(F.col("score_q").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    hist = (
        sc.groupBy("lang", "score_q")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("lang").alias("h_lang"),
            F.col("score_q").alias("h_score"),
            F.coalesce(F.sum("cnt").over(hw), F.lit(0)).alias("cum_gt"),
            F.sum("cnt")
            .over(Window.partitionBy("lang"))
            .alias("n"),
        )
    )
    # eqNullSafe on lang: a NULL-lang partition must bucket exactly
    # like the oracle's window (which keeps NULL as its own partition)
    tw = Window.partitionBy("lang", "score_q").orderBy("doc_id")
    ranked = (
        sc.withColumn("tie_rn", F.row_number().over(tw))
        .join(
            hist,
            F.col("lang").eqNullSafe(F.col("h_lang"))
            & (F.col("score_q") == F.col("h_score")),
        )
        .select(
            "doc_id",
            "lang",
            "score_q",
            (F.col("cum_gt") + F.col("tie_rn")).alias("rnk"),
            "n",
        )
    )
    head_n = F.floor((F.col("n") + 2) / 3)
    mid_n = F.floor((2 * F.col("n") + 2) / 3)
    return ranked.select(
        "doc_id",
        "lang",
        "score_q",
        F.when(F.col("rnk") <= head_n, F.lit("head"))
        .when(F.col("rnk") <= mid_n, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


#: vocabulary-coverage checkpoints (top-k vocab sizes a tokenizer
#: designer actually compares); the plan only ever materializes the
#: largest one
VOCAB_COVERAGE_KS = (100, 1000, 10000)


@query(
    "bpe_merge_candidates",
    oracle="""
    WITH vocab AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS wf
      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      GROUP BY word
    ), pairs AS (
      SELECT substring(word, CAST(i AS INT), 2) AS pair, wf
      FROM (
        SELECT word, wf, unnest(range(1, length(word))) AS i
        FROM vocab WHERE length(word) >= 2
      )
    )
    SELECT pair, CAST(SUM(wf) AS BIGINT) AS weight
    FROM pairs GROUP BY pair
    ORDER BY weight DESC, pair
    LIMIT 20
    """,
)
def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE-training inner loop at corpus scale: the top adjacent
    character pairs, weighted by word frequency — the pair a byte-pair
    tokenizer would merge next.

    Scale shape: the pair explosion runs over the VOCAB TABLE, not the
    corpus — one corpus-linear wordcount (map-side combined, shuffle
    carries one row per (partition, word)), then O(|vocab| x word_len)
    pair generation and a second vocabulary-sized aggregation, closed
    by TakeOrderedAndProject(20) (per-partition top-20, no global
    sort). A 100 TB corpus with a 100M-word vocab never materializes
    corpus-sized pair lists — this is exactly why production BPE
    trainers count over the word-frequency table. All JVM built-ins;
    substring semantics (1-based, character-counted) are identical in
    DuckDB, so the oracle replays bit-exactly."""
    docs = load(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(_words()).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wf"))
    )
    pairs = vocab.filter(F.length("word") >= 2).select(
        "wf",
        F.explode(
            F.expr(
                "transform(sequence(1, length(word) - 1),"
                " i -> substring(word, i, 2))"
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wf").alias("weight"))
        .orderBy(F.desc("weight"), F.asc("pair"))
        .limit(20)
    )


@query(
    "vocab_coverage",
    oracle=f"""
    WITH tok AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      GROUP BY word
    ), ranked AS (
      SELECT cnt, row_number() OVER (ORDER BY cnt DESC, word) AS rk
      FROM tok
    ), tot AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM tok
    )
    SELECT ks.k,
           CAST(SUM(CASE WHEN rk <= ks.k THEN cnt ELSE 0 END) AS BIGINT)
             AS covered,
           MAX(tot.total) AS total_tokens,
           CAST(SUM(CASE WHEN rk <= ks.k THEN cnt ELSE 0 END) AS DOUBLE)
             / MAX(tot.total) AS coverage
    FROM ranked, tot,
         (VALUES {", ".join(f"({k})" for k in VOCAB_COVERAGE_KS)}) ks(k)
    GROUP BY ks.k
    """,
)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary planning: what fraction of all corpus
    token occurrences the top-k most frequent words cover, at the
    vocab sizes a tokenizer designer compares (k in 100/1k/10k).

    Scale shape: the ONLY ordered structure is the top-max(k) slice,
    fetched with TakeOrderedAndProject (per-partition top-k + driver
    merge — never a global sort of the vocabulary); the row_number
    window then runs over those max(k) rows in one task by
    construction. The corpus-scale work is a single map-side-combined
    wordcount; the total is a scalar broadcast. Coverage is one IEEE
    division of two exact BIGINTs — engine-identical (the
    contamination_check precedent)."""
    docs = load(spark, sf_dir, "documents")
    kmax = max(VOCAB_COVERAGE_KS)
    tok = (
        docs.select(F.explode(_words()).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = tok.orderBy(F.desc("cnt"), F.asc("word")).limit(kmax)
    ranked = top.select(
        "cnt",
        F.row_number()
        .over(Window.orderBy(F.desc("cnt"), F.asc("word")))
        .alias("rk"),
    )
    covered = ranked.agg(
        *[
            F.sum(F.when(F.col("rk") <= k, F.col("cnt")).otherwise(0))
            .cast("long")
            .alias(f"cov_{k}")
            for k in VOCAB_COVERAGE_KS
        ]
    )
    total = tok.agg(F.sum("cnt").cast("long").alias("total_tokens"))
    one = covered.crossJoin(F.broadcast(total))
    stack = ", ".join(
        f"{k}, cov_{k}" for k in VOCAB_COVERAGE_KS
    )
    return one.select(
        F.expr(
            f"stack({len(VOCAB_COVERAGE_KS)}, {stack}) AS (k, covered)"
        ),
        "total_tokens",
    ).select(
        F.col("k").cast("int").alias("k"),
        "covered",
        "total_tokens",
        (F.col("covered").cast("double") / F.col("total_tokens")).alias(
            "coverage"
        ),
    )


#: fixed-point scale for Naive-Bayes token weights (w_q in [0, NB_SCALE]
#: = smoothed P(positive | token)); per-doc score sums stay far below
#: 2^63 for any real document length.
NB_SCALE = 10**6

#: deterministic train/apply split: doc_id % 10 < 8 trains the
#: classifier, the remaining 20% is the labeled holdout it scores —
#: the same value-based modulo rule as train_test_split
#: (pipeline_ops.py), so the split survives repartitioning and is
#: replayable in SQL.
NB_TRAIN_MOD, NB_TRAIN_KEEP = 10, 8


@query(
    "quality_classifier_nb",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, w
      FROM (SELECT doc_id, lang,
                   unnest(string_split(text, ' ')) AS w
            FROM documents)
      WHERE w <> ''
    ), wt AS (
      SELECT w,
             ((SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) + 1)
               * {NB_SCALE}) // (COUNT(*) + 2) AS w_q
      FROM tok WHERE doc_id % {NB_TRAIN_MOD} < {NB_TRAIN_KEEP}
      GROUP BY w
    ), apply AS (
      SELECT t.doc_id,
             SUM(COALESCE(wt.w_q, {NB_SCALE // 2})) // COUNT(*) AS score_q,
             MIN(t.lang) AS lang
      FROM tok t LEFT JOIN wt ON wt.w = t.w
      WHERE t.doc_id % {NB_TRAIN_MOD} >= {NB_TRAIN_KEEP}
      GROUP BY t.doc_id
    )
    SELECT doc_id,
           CAST(score_q AS BIGINT) AS score_q,
           CAST(CASE WHEN score_q * 2 > {NB_SCALE} THEN 1 ELSE 0 END AS INT)
             AS predicted_pos,
           CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS INT) AS actual_pos
    FROM apply
    """,
    tags=("text", "classifier"),
)
def quality_classifier_nb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained token-level quality classifier — the fastText/CCNet
    stand-in every production curation stack runs (score each crawl
    doc by 'does it look like the target distribution?'): a smoothed
    per-token Naive-Bayes weight table learned from labeled seed data
    (here lang='en' as the in-domain class, 80% of docs as train),
    applied to the holdout as a mean-of-token-weights score with a
    0.5 decision threshold.  Emits the per-doc keep/drop decision
    table (score, predicted, actual) — the ACTION artifact, like
    decontaminate_filter.

    All integer fixed-point: w_q = ((pos+1) * SCALE) div (pos+neg+2)
    (Laplace smoothing), doc score = sum(w_q) div n_tokens, unseen
    tokens fall back to the SCALE/2 prior via COALESCE — every step
    replayed bit-exactly by the oracle.

    Scale shape: TRAIN is one token-explode + groupBy(token) whose
    partial aggregation collapses each map task's repeats of a hot
    token (stopwords) to one row — vocab-sized output, corpus-sized
    input, one exchange.  APPLY is an equi-join of holdout tokens
    against the vocab table: vocab is unique-keyed so the join has no
    row explosion, hot tokens are a hash-join probe skew (fine —
    they're spread across input partitions), and the post-join
    groupBy(doc_id) carries one row per token occurrence.  At real
    scale the vocab (10-100M rows) shuffle-hash-joins rather than
    broadcasting; nothing here needs the corpus sorted or windowed.
    A real deployment caps the vocab by document frequency
    (cap_hot_shingles' rule) and ships bigram features the same way."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        "lang",
        F.explode(F.split("text", " ")).alias("w"),
    ).where(F.col("w") != "")
    wt = (
        tok.where((F.col("doc_id") % NB_TRAIN_MOD) < NB_TRAIN_KEEP)
        .groupBy("w")
        .agg(
            F.expr(
                f"((sum(case when lang = 'en' then 1 else 0 end) + 1)"
                f" * {NB_SCALE}) div (count(1) + 2)"
            ).alias("w_q")
        )
    )
    applied = (
        tok.where((F.col("doc_id") % NB_TRAIN_MOD) >= NB_TRAIN_KEEP)
        .join(wt, "w", "left")
        .groupBy("doc_id")
        .agg(
            F.expr(
                f"sum(coalesce(w_q, {NB_SCALE // 2})) div count(1)"
            ).alias("score_q"),
            F.min("lang").alias("lang"),
        )
    )
    return applied.select(
        "doc_id",
        F.col("score_q").cast("long").alias("score_q"),
        (F.col("score_q") * 2 > NB_SCALE).cast("int").alias("predicted_pos"),
        (F.col("lang") == "en").cast("int").alias("actual_pos"),
    )


#: greedy-vocab tokenization cost model: words in the top-VOCAB_APPLY_K
#: corpus vocabulary cost one token, out-of-vocab words fall back to
#: per-character pieces (the byte-fallback rule every BPE deployment
#: carries). Ties in the vocab cut break lexicographically, so the
#: vocab is a deterministic set in both engines.
VOCAB_APPLY_K = 1000


@query(
    "tokenizer_vocab_apply",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, w FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w
        FROM documents
      ) WHERE w <> ''
    ), vocab AS (
      SELECT w FROM (
        SELECT w, ROW_NUMBER() OVER (
          ORDER BY COUNT(*) DESC, w ASC) AS r
        FROM words GROUP BY w
      ) WHERE r <= {VOCAB_APPLY_K}
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(CASE WHEN v.w IS NOT NULL
                         THEN 1 ELSE length(words.w) END) AS BIGINT)
             AS n_tokens,
           CAST(COUNT(*) FILTER (WHERE v.w IS NULL) AS BIGINT)
             AS oov_words
    FROM words LEFT JOIN vocab v ON v.w = words.w
    GROUP BY doc_id
    """,
    tags=("text", "tokenizer"),
)
def tokenizer_vocab_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenization-cost accounting under a learned vocabulary — the
    ENCODE-side twin of vocab_coverage (corpus-level) and
    bpe_merge_candidates (training-side): each in-vocab word costs one
    token, each out-of-vocab word falls back to per-character pieces
    (the byte-fallback floor), yielding the per-doc token cost a
    sequence-packing / budget plan (sequence_packing,
    corpus_token_budget) actually pays.  Emits per doc: word count,
    token cost, OOV count.

    Scale shape: the vocab is a corpus-frequency top-k — ONE
    map-side-combinable word count whose top slice is
    TakeOrderedAndProject (vocab-sized, never corpus-sorted;
    vocab_coverage's argument) — then a BROADCAST left join against
    the exploded words (the vocab is VOCAB_APPLY_K rows by
    construction, the one join in this engine that is always
    broadcastable), and one groupBy(doc_id) whose partials collapse
    per map task."""
    docs = load(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).where(F.col("w") != "")
    vocab = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("w"))
        .limit(VOCAB_APPLY_K)
        .select("w", F.lit(1).alias("in_vocab"))
    )
    return (
        words.join(F.broadcast(vocab), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum(
                F.when(F.col("in_vocab").isNotNull(), F.lit(1)).otherwise(
                    F.length("w")
                )
            )
            .cast("long")
            .alias("n_tokens"),
            F.count_if(F.col("in_vocab").isNull())
            .cast("long")
            .alias("oov_words"),
        )
    )


#: BPE training rounds for bpe_train_steps — each round counts pair
#: weights over the VOCAB table, merges the winner everywhere, and
#: re-measures the corpus token count. Part of the query definition
#: (both engines run exactly K rounds).
BPE_STEPS = 3


def _bpe_oracle() -> str:
    prev = "v0"
    steps = []
    selects = []
    for k in range(1, BPE_STEPS + 1):
        steps.append(
            f"""p{k} AS (
      SELECT syms[i] || ' ' || syms[i + 1] AS pair,
             CAST(SUM(wf) AS BIGINT) AS w
      FROM (
        SELECT wf, list_slice(string_split(sp, '|'), 2,
                              len(string_split(sp, '|')) - 1) AS syms
        FROM {prev}
      ), unnest(range(1, len(syms))) t(i)
      WHERE len(syms) >= 2
      GROUP BY syms[i] || ' ' || syms[i + 1]
    ), b{k} AS (
      SELECT pair, w FROM p{k} ORDER BY w DESC, pair ASC LIMIT 1
    ), v{k} AS (
      SELECT word, wf,
             replace(sp, '|' || replace((SELECT pair FROM b{k}), ' ', '|')
                           || '|',
                         '|' || replace((SELECT pair FROM b{k}), ' ', '')
                           || '|') AS sp
      FROM {prev}
    )"""
        )
        selects.append(
            f"""SELECT {k} AS step,
           (SELECT pair FROM b{k}) AS merged_pair,
           (SELECT w FROM b{k}) AS weight,
           CAST(SUM(wf * (len(string_split(sp, '|')) - 2)) AS BIGINT)
             AS corpus_tokens
    FROM v{k}"""
        )
        prev = f"v{k}"
    body = ",\n    ".join(steps)
    union = "\n    UNION ALL\n    ".join(selects)
    return f"""
    WITH vocab AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS wf
      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      WHERE word <> '' AND word NOT LIKE '%|%'
      GROUP BY word
    ), v0 AS (
      SELECT word, wf,
             '|' || array_to_string(string_split(word, ''), '|') || '|' AS sp
      FROM vocab
    ),
    {body}
    {union}
    ORDER BY step
    """


@query("bpe_train_steps", oracle=_bpe_oracle(), tags=("text", "tokenizer"))
def bpe_train_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING, K=3 full rounds — the iterative loop
    bpe_merge_candidates is one step of (fourth iterative-algorithm
    class after connected components, PageRank, and Lloyd's): spell
    every vocab word as |-separated symbols, and per round (a) count
    adjacent-symbol pair weights over the vocab, (b) merge the
    heaviest pair (ties to the lexicographically smaller pair string)
    everywhere it occurs, (c) re-measure the weighted corpus token
    count — the curve a tokenizer trainer watches.  Emits one row per
    round: (step, merged_pair, weight, corpus_tokens).

    Merge rule, deliberately: left-to-right non-overlapping string
    replace of '|x|y|' -> '|xy|'.  Both engines' replace() has
    identical semantics, so the oracle replays the loop bit-exactly;
    the one divergence from textbook BPE is that two occurrences
    sharing a boundary separator ('|x|y|x|y|') merge only the first —
    a deterministic, engine-identical rule, documented rather than
    patched (textbook run-parity needs sequential state per word).
    Words containing the separator are excluded up front in both
    engines (defensive; none exist in the fixtures).

    Scale shape (why production BPE trainers are feasible at 100 TB):
    after ONE corpus-linear wordcount, every round runs on the
    VOCAB table — pair explode (|vocab| x word_len), a
    vocab-sized map-side-combined aggregation, and a
    TakeOrderedAndProject(1) for the winner, which ships to the
    driver as a one-row control-plane scalar (kmeans_lloyd's
    centroid pattern) and returns as a replace literal.  The corpus
    is never touched again; the vocab frame is localCheckpointed once
    so the K rounds re-read a materialized block."""
    docs = load(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(_words()).alias("word"))
        .where((F.col("word") != "") & (~F.col("word").contains("|")))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wf"))
        .select(
            "word",
            "wf",
            F.concat(
                F.lit("|"),
                F.array_join(F.split("word", ""), "|"),
                F.lit("|"),
            ).alias("sp"),
        )
        .localCheckpoint(eager=False)
    )

    v = vocab
    stats = []
    # A corpus with no mergeable pair anywhere (all words < 2 chars,
    # or empty) must not kill the job: the oracle's scalar subqueries
    # go NULL and poison sp for every later round, so once the pair
    # table is empty the loop emits all-NULL rows for the remaining
    # steps — same semantics, fail-soft (fuzz-found: the original
    # collect()[0] raised IndexError on exactly this corpus).
    dead = False
    for k in range(1, BPE_STEPS + 1):
        syms = F.expr("slice(split(sp, '[|]'), 2, size(split(sp, '[|]')) - 2)")
        pairs = v.select("wf", syms.alias("syms")).where(
            F.size("syms") >= 2
        ).select(
            "wf",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(syms) - 2),"
                    " i -> concat(syms[i], ' ', syms[i + 1]))"
                )
            ).alias("pair"),
        )
        best_rows = (
            pairs.groupBy("pair")
            .agg(F.sum("wf").cast("long").alias("w"))
            .orderBy(F.desc("w"), F.asc("pair"))
            .limit(1)
            .collect()
        ) if not dead else []
        if not best_rows:
            dead = True
            stats.append(
                spark.range(1).select(
                    F.lit(k).alias("step"),
                    F.lit(None).cast("string").alias("merged_pair"),
                    F.lit(None).cast("long").alias("weight"),
                    F.lit(None).cast("long").alias("corpus_tokens"),
                )
            )
            continue
        best = best_rows[0]
        pat = "|" + best["pair"].replace(" ", "|") + "|"
        rep = "|" + best["pair"].replace(" ", "") + "|"
        v = v.select(
            "word", "wf", F.replace("sp", F.lit(pat), F.lit(rep)).alias("sp")
        ).localCheckpoint(eager=False)
        stats.append(
            v.agg(
                F.lit(k).alias("step"),
                F.lit(best["pair"]).alias("merged_pair"),
                F.lit(int(best["w"])).cast("long").alias("weight"),
                F.sum(
                    F.col("wf")
                    * (F.size(F.expr("split(sp, '[|]')")) - 2)
                )
                .cast("long")
                .alias("corpus_tokens"),
            )
        )
    out = stats[0]
    for s in stats[1:]:
        out = out.unionAll(s)
    return out


# --- unigram-LM tokenizer training (SentencePiece-family) -------------

#: unigram trainer shape: seed = top-S multi-char substrings (length
#: 2..UNI_MAXP) plus EVERY corpus character (the coverage floor —
#: SentencePiece's vocab must also hold every observed char);
#: UNI_MAXW caps the per-word DP/enumeration width — longer words
#: char-split deterministically (SentencePiece likewise caps piece
#: and sentence lengths)
UNI_SEED_TOPS = 60
UNI_MAXP = 4
UNI_MAXW = 12
UNI_STEPS = 2


def _uni_ilog2_sql(col: str) -> str:
    """floor(log2(w)) for w >= 1 as pure string-of-bits arithmetic —
    bit-exact in both engines (no libm; repo determinism policy)."""
    return f"CAST(length(bin({col})) - 1 AS BIGINT)"


def _unigram_chain() -> str:
    """The shared unigram-EM oracle derivation (seed inventory, K
    unrolled E/M rounds) — one CTE chain consumed by BOTH unigram
    oracles so they cannot drift (the _LM_CTE_SQL policy).
    Deliberately BRUTE FORCE: each round enumerates EVERY full
    segmentation of every vocab word via a recursive CTE and picks
    the (score DESC, n_pieces ASC, seq ASC) winner with ROW_NUMBER —
    exponential in principle, bounded by UNI_MAXW in fact — while
    the engine runs a linear Viterbi DP. Two genuinely independent
    implementations of the same spec."""
    rounds = []
    for k in range(1, UNI_STEPS + 1):
        m = f"model{k}"
        rounds.append(f"""
    , paths{k} AS (
      SELECT word, wf, 0 AS pos, '' AS seq,
             CAST(0 AS BIGINT) AS score, 0 AS np
      FROM vocab WHERE len(word) <= {UNI_MAXW}
      UNION ALL
      SELECT p.word, p.wf, p.pos + len(m.piece),
             CASE WHEN p.seq = '' THEN m.piece
                  ELSE p.seq || '|' || m.piece END,
             p.score + m.s, p.np + 1
      FROM paths{k} p JOIN {m} m
        ON substring(p.word, p.pos + 1, len(m.piece)) = m.piece
      WHERE p.pos < len(p.word)
    ), best{k} AS (
      SELECT word, wf, seq, score, np FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY word
          ORDER BY score DESC, np ASC, seq ASC) AS rn
        FROM paths{k} WHERE pos = len(word))
      WHERE rn = 1
    ), occ{k} AS (
      SELECT piece, wf FROM (
        SELECT wf, unnest(string_split(seq, '|')) AS piece FROM best{k})
      UNION ALL
      SELECT substring(word, CAST(i AS INT), 1) AS piece, wf
      FROM (SELECT word, wf, unnest(range(1, len(word) + 1)) AS i
            FROM vocab WHERE len(word) > {UNI_MAXW})
    ), uses{k} AS (
      SELECT piece, CAST(SUM(wf) AS BIGINT) AS w
      FROM occ{k} GROUP BY piece
    ), round{k} AS (
      SELECT CAST({k} AS BIGINT) AS step,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM {m}) AS n_pieces,
             (SELECT CAST(SUM(u.w) AS BIGINT) FROM uses{k} u)
               AS corpus_tokens,
             (SELECT CAST(SUM(u.w * m.s) AS BIGINT)
              FROM uses{k} u JOIN {m} m USING (piece)) AS score_sum
    )""")
        if k < UNI_STEPS:
            rounds.append(f"""
    , modelw{k + 1} AS (
      SELECT piece, w FROM uses{k} WHERE len(piece) >= 2
      UNION ALL
      SELECT c.piece, CAST(coalesce(u.w, 1) AS BIGINT) AS w
      FROM chars c LEFT JOIN uses{k} u ON u.piece = c.piece
    ), model{k + 1} AS (
      SELECT piece, w, {_uni_ilog2_sql('w')}
               - (SELECT CAST(length(bin(SUM(w))) AS BIGINT)
                  FROM modelw{k + 1}) AS s
      FROM modelw{k + 1}
    )""")
    return (
        f"""
    WITH RECURSIVE vocab AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS wf
      FROM (SELECT unnest(string_split(text, ' ')) AS word
            FROM documents)
      WHERE word != '' AND word NOT LIKE '%|%'
      GROUP BY word
    ), grid AS (
      SELECT word, wf, L, unnest(range(1, len(word) - L + 2)) AS i
      FROM (SELECT word, wf,
                   unnest([{', '.join(str(x) for x in range(1, UNI_MAXP + 1))}])
                     AS L
            FROM vocab)
      WHERE len(word) >= L
    ), pw AS (
      SELECT substring(word, CAST(i AS INT), CAST(L AS INT)) AS piece,
             CAST(SUM(wf) AS BIGINT) AS w
      FROM grid GROUP BY 1
    ), mseed AS (
      SELECT piece, w FROM pw WHERE len(piece) >= 2
      ORDER BY w DESC, piece ASC LIMIT {UNI_SEED_TOPS}
    ), chars AS (
      SELECT piece, w FROM pw WHERE len(piece) = 1
    ), modelw1 AS (
      SELECT piece, w FROM mseed
      UNION ALL SELECT piece, w FROM chars
    ), model1 AS (
      SELECT piece, w, {_uni_ilog2_sql('w')}
               - (SELECT CAST(length(bin(SUM(w))) AS BIGINT)
                  FROM modelw1) AS s
      FROM modelw1
    )"""
        + "".join(rounds)
    )


def _unigram_oracle() -> str:
    """Training-curve oracle: the shared chain + one row per round."""
    return _unigram_chain() + " UNION ALL ".join(
        f"SELECT * FROM round{k}" for k in range(1, UNI_STEPS + 1)
    )


def _unigram_cost_oracle() -> str:
    """Encode-cost oracle: the shared chain + per-word piece counts
    under the FINAL round's model (DP'd words from best{K}, capped
    words at their char-split length), joined back to the exploded
    document words."""
    k = UNI_STEPS
    return (
        _unigram_chain()
        + f"""
    , np{k} AS (
      SELECT word, CAST(np AS BIGINT) AS np FROM best{k}
      UNION ALL
      SELECT word, CAST(len(word) AS BIGINT) AS np
      FROM vocab WHERE len(word) > {UNI_MAXW}
    ), dwords AS (
      SELECT doc_id, w FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w
        FROM documents
      ) WHERE w <> '' AND w NOT LIKE '%|%'
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(n.np) AS BIGINT) AS n_tokens,
           CAST(MAX(n.np) AS BIGINT) AS max_word_tokens
    FROM dwords d JOIN np{k} n ON n.word = d.w
    GROUP BY doc_id
    """
    )


def _uni_segment(word: str, model: dict[str, int]) -> list[str]:
    """Viterbi segmentation of one word under integer piece scores.
    best[pos] = (score, np, seq, pieces) — max score, then min piece
    count, then lexicographically smallest '|'-joined sequence.
    Equal-(score, np) prefixes to the same pos have equal seq length,
    so prefix-wise lexicographic choice is globally optimal (see
    docstring note in unigram_train_steps). Words over the UNI_MAXW
    DP cap char-split deterministically — the oracle's rule too."""
    n = len(word)
    if n > UNI_MAXW:
        return list(word)
    best: list = [None] * (n + 1)
    best[0] = (0, 0, "", [])
    for pos in range(1, n + 1):
        cand = None
        for ln in range(1, min(UNI_MAXP, pos) + 1):
            prev = best[pos - ln]
            if prev is None:
                continue
            piece = word[pos - ln : pos]
            s = model.get(piece)
            if s is None:
                continue
            ps, pn, pq, pl = prev
            key = (
                -(ps + s),
                pn + 1,
                pq + "|" + piece if pq else piece,
            )
            if cand is None or key < cand[0]:
                cand = (key, pl + [piece])
        if cand is not None:
            best[pos] = (
                -cand[0][0],
                cand[0][1],
                cand[0][2],
                cand[1],
            )
    assert best[n] is not None, (
        f"unigram model lost char coverage for {word!r}"
    )
    return best[n][3]


def _uni_dp_kernel(model: dict[str, int]):
    """Arrow kernel: Viterbi-segment each vocab word under the current
    piece model and emit one (piece, wf, s) row per used piece
    occurrence — everything downstream (usage counts, token and
    score totals) is a map-side-combinable aggregate of these rows.
    Pure-integer DP, lexicographic seq tie-break identical to the
    oracle's ORDER BY (UTF-8 byte order == code-point order)."""

    def run(batches):
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            if not len(pdf):
                continue
            out_p: list[str] = []
            out_wf: list[int] = []
            out_s: list[int] = []
            for word, wf in zip(pdf["word"], pdf["wf"]):
                for p in _uni_segment(word, model):
                    out_p.append(p)
                    out_wf.append(int(wf))
                    out_s.append(model[p])
            yield pd.DataFrame(
                {"piece": out_p, "wf": out_wf, "s": out_s}
            )

    return run


def _uni_np_kernel(model: dict[str, int]):
    """Arrow kernel: per-word piece COUNT under the model — the
    encode-cost projection of the same DP (unigram_tokenize_cost)."""

    def run(batches):
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            if not len(pdf):
                continue
            words = list(pdf["word"])
            yield pd.DataFrame(
                {
                    "word": words,
                    "np": [
                        len(_uni_segment(w, model)) for w in words
                    ],
                }
            )

    return run


def _uni_seed_weights(spark: SparkSession, vocab: DataFrame):
    """Seed piece weights: top-UNI_SEED_TOPS multi-char substrings by
    weighted occurrence count (ties lexicographic) plus every corpus
    character — both bounded control-plane collects."""
    subs = vocab.select(
        "wf",
        F.explode(
            F.expr(
                f"flatten(transform(sequence(1, least({UNI_MAXP},"
                " length(word))), L -> transform("
                "sequence(1, length(word) - L + 1),"
                " i -> substring(word, i, L))))"
            )
        ).alias("piece"),
    )
    pw = subs.groupBy("piece").agg(F.sum("wf").cast("long").alias("w"))
    multis = (
        pw.where(F.length("piece") >= 2)
        .orderBy(F.desc("w"), F.asc("piece"))
        .limit(UNI_SEED_TOPS)
        .collect()
    )
    chars = pw.where(F.length("piece") == 1).collect()
    weights = {r["piece"]: int(r["w"]) for r in multis}
    weights.update({r["piece"]: int(r["w"]) for r in chars})
    return weights, [r["piece"] for r in chars]


def _uni_model(weights: dict[str, int]) -> dict[str, int]:
    """Normalized integer log-prob per piece: ilog2(w) - (ilog2(Z)+1)
    — every piece costs ~log2(total piece mass), so the DP trades
    piece frequency against piece COUNT like a real unigram LM
    (without the Z term, maximizing sum(ilog2 w) always prefers
    more, higher-frequency pieces and chars always win)."""
    shift = sum(weights.values()).bit_length()
    return {p: w.bit_length() - 1 - shift for p, w in weights.items()}


def _uni_estep(vocab: DataFrame, model: dict[str, int]):
    """One E pass: DP-segment the vocab, return {piece: (uses, s)} —
    a model-sized collect off a map-side-combined aggregate."""
    occ = vocab.mapInPandas(
        _uni_dp_kernel(model), schema="piece string, wf long, s long"
    )
    return {
        r["piece"]: (r["w"], r["s"])
        for r in occ.groupBy("piece")
        .agg(
            F.sum("wf").cast("long").alias("w"),
            F.min("s").alias("s"),
        )
        .collect()
    }


def _uni_mstep(uses: dict, char_set: list[str]) -> dict[str, int]:
    """M re-weighting: multi-char pieces live on at their usage
    weight, characters are kept alive at weight >= 1 (coverage)."""
    weights = {p: w for p, (w, _) in uses.items() if len(p) >= 2}
    weights.update(
        {c: uses[c][0] if c in uses else 1 for c in char_set}
    )
    return weights


def _uni_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(_words()).alias("word"))
        .where((F.col("word") != "") & (~F.col("word").contains("|")))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wf"))
        .localCheckpoint(eager=False)
    )


@query(
    "unigram_train_steps",
    oracle=_unigram_oracle(),
    tags=("text", "tokenizer"),
)
def unigram_train_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer TRAINING (SentencePiece family, Kudo
    2018), K=2 EM rounds — the second major tokenizer-
    training algorithm next to bpe_train_steps, and the fifth
    iterative-algorithm class in the engine: seed a piece inventory
    (top-60 multi-char substrings of length
    2..4 by weighted frequency, plus every corpus character
    as the coverage floor), then per round (E) Viterbi-segment every
    vocab word under integer piece scores and count weighted piece
    usage, (M) re-weight pieces by usage, dropping unused multi-char
    pieces and keeping characters alive at weight 1. Emits one row
    per round: (step, n_pieces, corpus_tokens, score_sum) — the
    shrinking-inventory / rising-likelihood curve a trainer watches.

    Determinism (repo policy — no libm): the per-piece score is the
    NORMALIZED integer log-prob floor(log2 w) - (floor(log2 Z) + 1)
    (Z = total model piece mass), computed as length-of-binary-string
    arithmetic — the log Z term per piece is what makes the DP trade
    frequency against piece count like a real unigram LM — so
    segmentation scoring is exact BIGINT addition;
    the Viterbi winner is totalized by (score DESC, piece-count ASC,
    '|'-joined sequence ASC) — the seq comparison is byte order in
    DuckDB and code-point order in Python, identical by the UTF-8
    order-preservation property. Words longer than 12 chars
    char-split deterministically (the DP/enumeration width cap);
    words containing '|' are excluded up front in both engines
    (bpe_train_steps' rule).

    Engine-vs-oracle independence: the engine runs a LINEAR DP per
    word (prefix-optimal substructure — equal-(score, np) prefixes to
    a position have equal joined-string length, so lexicographic
    prefix choice is globally lexicographic-optimal); the oracle
    brute-force ENUMERATES every segmentation via a recursive CTE
    and picks the winner with ROW_NUMBER. A bug in either shows as a
    gate mismatch; they share no derivation shortcut.

    Scale shape: ONE corpus-linear wordcount, localCheckpointed; each
    round is one vocab-sized Arrow DP pass (O(len x 4) per
    word) feeding a map-side-combined aggregation whose result is
    MODEL-sized (<= 60 + charset rows — the bounded
    control-plane collect that feeds the next round's kernel closure,
    same legitimacy class as kmeans_lloyd's centroids and
    bpe_train_steps' merge winner; SentencePiece's own vocab likewise
    holds every observed character). The corpus is never rescanned;
    at 100 TB the wordcount dominates and the EM rounds run on the
    vocab table alone."""
    vocab = _uni_vocab(spark, sf_dir)
    weights, char_set = _uni_seed_weights(spark, vocab)

    stats: list[tuple] = []
    for k in range(1, UNI_STEPS + 1):
        if not weights:
            stats.append((k, 0, None, None))
            continue
        model = _uni_model(weights)
        uses = _uni_estep(vocab, model)
        stats.append(
            (
                k,
                len(model),
                sum(w for w, _ in uses.values()),
                sum(w * s for w, s in uses.values()),
            )
        )
        weights = _uni_mstep(uses, char_set)
    return spark.createDataFrame(
        stats,
        schema="step long, n_pieces long, corpus_tokens long, "
        "score_sum long",
    )


@query(
    "unigram_tokenize_cost",
    oracle=_unigram_cost_oracle(),
    tags=("text", "tokenizer"),
)
def unigram_tokenize_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document tokenization cost under the TRAINED unigram model
    — the ENCODE-side twin of unigram_train_steps, the unigram
    counterpart of tokenizer_vocab_apply (whose vocab is a flat
    top-k): train the same K EM rounds, then charge every document
    the Viterbi piece count of each of its words. Emits per doc:
    (doc_id, n_words, n_tokens, max_word_tokens) — the cost frame a
    sequence-packing / token-budget plan consumes when the tokenizer
    is a unigram LM. Words containing '|' are outside the trained
    domain and are excluded from the accounting in both engines.

    Scale shape: the training rounds are vocab-sized (see
    unigram_train_steps); the encode pass DP-segments the VOCAB once
    more (per-word np, vocab-sized) and joins that hint-free against
    the exploded document words — the vocab-keyed join a tokenizer
    application always pays, uniform-keyed, AQE-planned — followed by
    one map-side-combined groupBy(doc_id). The corpus is touched
    twice total (wordcount + encode join), never per EM round."""
    docs = load(spark, sf_dir, "documents")
    vocab = _uni_vocab(spark, sf_dir)
    weights, char_set = _uni_seed_weights(spark, vocab)
    for _ in range(1, UNI_STEPS):
        if not weights:
            break
        weights = _uni_mstep(
            _uni_estep(vocab, _uni_model(weights)), char_set
        )
    schema = (
        "doc_id long, n_words long, n_tokens long, "
        "max_word_tokens long"
    )
    if not weights:
        return spark.createDataFrame([], schema=schema)
    npdf = vocab.mapInPandas(
        _uni_np_kernel(_uni_model(weights)),
        schema="word string, np long",
    )
    words = docs.select(
        "doc_id", F.explode(_words()).alias("w")
    ).where((F.col("w") != "") & (~F.col("w").contains("|")))
    return (
        words.join(npdf, words.w == npdf.word)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("np").cast("long").alias("n_tokens"),
            F.max("np").cast("long").alias("max_word_tokens"),
        )
    )


#: Gopher quality-rule bounds (Rae et al. 2021, the rule set C4/
#: Gopher/FineWeb-class pipelines gate on), in exact cross-multiplied
#: integer form so no rule ever divides.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MWL_MIN = 3  # mean word length lower bound
GOPHER_MWL_MAX = 10
GOPHER_MIN_STOPWORDS = 2
GOPHER_ALPHA_PCT = 80  # >= 80% of words contain an alphabetic char


@query(
    "gopher_quality_gate",
    oracle=f"""
    SELECT doc_id, n_words, word_chars,
           CAST(n_words >= {GOPHER_MIN_WORDS}
                AND n_words <= {GOPHER_MAX_WORDS} AS INT) AS ok_words,
           CAST(word_chars >= {GOPHER_MWL_MIN} * n_words
                AND word_chars <= {GOPHER_MWL_MAX} * n_words AS INT)
             AS ok_mwl,
           CAST(alpha_words * 100 >= {GOPHER_ALPHA_PCT} * n_words AS INT)
             AS ok_alpha,
           CAST(stop_cnt >= {GOPHER_MIN_STOPWORDS} AS INT) AS ok_stop,
           CAST(n_words >= {GOPHER_MIN_WORDS}
                AND n_words <= {GOPHER_MAX_WORDS}
                AND word_chars >= {GOPHER_MWL_MIN} * n_words
                AND word_chars <= {GOPHER_MWL_MAX} * n_words
                AND alpha_words * 100 >= {GOPHER_ALPHA_PCT} * n_words
                AND stop_cnt >= {GOPHER_MIN_STOPWORDS} AS INT) AS keep
    FROM (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
             CAST(length(replace(text, ' ', '')) AS BIGINT) AS word_chars,
             CAST(len(list_filter(string_split(text, ' '),
                  w -> regexp_matches(w, '[a-z]'))) AS BIGINT)
               AS alpha_words,
             CAST({_oracle_marker_count(STOPWORDS)} AS BIGINT) AS stop_cnt
      FROM documents
    )
    """,
    tags=("text", "quality"),
)
def gopher_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The consolidated Gopher rule gate (Rae et al. 2021) — the
    named filter set C4/Gopher/FineWeb-class pipelines apply before
    anything model-based: word-count bounds, mean-word-length bounds,
    alphabetic-word fraction, minimum stopword evidence — emitted as
    a per-doc decision TABLE (one column per rule + the conjunction),
    so a curation run can audit WHICH rule rejected each doc instead
    of just losing it (text_quality scores; this gates).  Every rule
    is an exact cross-multiplied integer comparison (mean word length
    in [3,10] is word_chars between 3*n_words and 10*n_words — no
    division, no doubles), so the oracle replays the gate bit-exactly.

    Scale shape: a pure projection — one scan, zero exchanges, every
    predicate a codegen'd row-local expression; at 100 TB this is the
    cheapest full-corpus pass the pipeline has, which is exactly why
    these rules run FIRST in production stacks (quality_funnel
    measures that ordering's survivor counts)."""
    docs = load(spark, sf_dir, "documents")
    words = _words()
    base = docs.select(
        "doc_id",
        F.size(words).cast("long").alias("n_words"),
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        .cast("long")
        .alias("word_chars"),
        F.size(F.filter(words, lambda w: w.rlike("[a-z]")))
        .cast("long")
        .alias("alpha_words"),
        _marker_count(words, STOPWORDS).cast("long").alias("stop_cnt"),
    )
    ok_words = (F.col("n_words") >= GOPHER_MIN_WORDS) & (
        F.col("n_words") <= GOPHER_MAX_WORDS
    )
    ok_mwl = (
        F.col("word_chars") >= GOPHER_MWL_MIN * F.col("n_words")
    ) & (F.col("word_chars") <= GOPHER_MWL_MAX * F.col("n_words"))
    ok_alpha = (
        F.col("alpha_words") * 100 >= GOPHER_ALPHA_PCT * F.col("n_words")
    )
    ok_stop = F.col("stop_cnt") >= GOPHER_MIN_STOPWORDS
    return base.select(
        "doc_id",
        "n_words",
        "word_chars",
        ok_words.cast("int").alias("ok_words"),
        ok_mwl.cast("int").alias("ok_mwl"),
        ok_alpha.cast("int").alias("ok_alpha"),
        ok_stop.cast("int").alias("ok_stop"),
        (ok_words & ok_mwl & ok_alpha & ok_stop).cast("int").alias("keep"),
    )


# --- multi-signal quality ensemble ------------------------------------

#: Simpson-concentration ceiling for the diversity vote: a doc whose
#: word distribution concentrates past 0.5 (quantized 1e6) is
#: dominated by one token — degenerate repetition fails the vote
ENSEMBLE_SIMPSON_MAX_Q = 500_000


#: the ensemble vote derivation as reusable CTEs (ends in `ens`) —
#: shared by quality_ensemble and corpus_curriculum (anti-drift)
_ENSEMBLE_CTES_SQL = f"""
    , gq AS (
      SELECT doc_id,
             CAST(n_words >= {GOPHER_MIN_WORDS}
                  AND n_words <= {GOPHER_MAX_WORDS}
                  AND word_chars >= {GOPHER_MWL_MIN} * n_words
                  AND word_chars <= {GOPHER_MWL_MAX} * n_words
                  AND alpha_words * 100 >= {GOPHER_ALPHA_PCT} * n_words
                  AND stop_cnt >= {GOPHER_MIN_STOPWORDS} AS INT)
               AS ok_gopher
      FROM (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
               CAST(length(replace(text, ' ', '')) AS BIGINT)
                 AS word_chars,
               CAST(len(list_filter(string_split(text, ' '),
                    w -> regexp_matches(w, '[a-z]'))) AS BIGINT)
                 AS alpha_words,
               CAST({_oracle_marker_count(STOPWORDS)} AS BIGINT)
                 AS stop_cnt
        FROM documents
      )
    ), wcounts AS (
      SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
            FROM documents)
      GROUP BY doc_id, w
    ), divq AS (
      SELECT doc_id,
             CAST(CAST(floor(1000000 * CAST(SUM(c * c) AS DOUBLE)
                  / CAST(SUM(c) * SUM(c) AS DOUBLE)) AS BIGINT)
                  <= {ENSEMBLE_SIMPSON_MAX_Q} AS INT) AS ok_diversity
      FROM wcounts GROUP BY doc_id
    )
    , ens AS (
      SELECT g.doc_id,
             coalesce(g.ok_gopher, 0) AS ok_gopher,
             CAST(coalesce(b.bucket <> 'tail', FALSE) AS INT)
               AS ok_fluency,
             coalesce(d.ok_diversity, 0) AS ok_diversity
      FROM gq g
      LEFT JOIN bucketed b USING (doc_id)
      LEFT JOIN divq d USING (doc_id)
    )
    """


@query(
    "quality_ensemble",
    oracle=_LM_CTE_SQL
    + _CCNET_CTES_SQL
    + _ENSEMBLE_CTES_SQL
    + """
    SELECT doc_id, ok_gopher, ok_fluency, ok_diversity,
           ok_gopher + ok_fluency + ok_diversity AS votes,
           CAST(ok_gopher + ok_fluency + ok_diversity >= 2 AS INT)
             AS keep
    FROM ens
    """,
    tags=("text", "quality", "pipeline"),
)
def quality_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Majority-vote quality ensemble — the production pattern after
    single-signal gates: three INDEPENDENT families of evidence vote
    per document and 2-of-3 keeps it. (1) the Gopher rule conjunction
    (structural sanity), (2) corpus-relative fluency — the doc is not
    in its language's CCNet perplexity tail (text_ccnet_buckets'
    keep rule: CCNet itself trains on head+middle), (3) lexical
    diversity — Simpson concentration <= 0.5 (not dominated by one
    token). A doc a signal cannot measure (no bigram evidence for the
    LM, no tokens for Simpson) FAILS that vote — missing evidence is
    not quality evidence. Majority voting beats the conjunction on
    recall (a boilerplate-shaped but fluent, diverse doc survives)
    and beats any single signal on precision; the per-signal columns
    keep the decision auditable, gopher_quality_gate-style.

    Output per doc: (doc_id, ok_gopher, ok_fluency, ok_diversity,
    votes, keep) — all exact integers, every underlying signal the
    same bit-exact derivation as its standalone query (shared oracle
    CTEs: _LM_CTE_SQL + _CCNET_CTES_SQL; Gopher bounds from the same
    constants — the anti-drift policy).

    Scale shape: three signal frames, each already scale-audited in
    its standalone form (Gopher: pure projection; CCNet: histogram
    terciles, no lang-wide sort; diversity: one map-side-combined
    groupBy), joined on doc_id — uniformly-hashed equi-joins AQE
    plans from runtime sizes, no hints. The LM signal dominates the
    cost; a 100 TB run persists the three signal frames and reuses
    them across curation policies (the ensemble itself is then a
    join-only replan)."""
    g = gopher_quality_gate(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("g_keep")
    )
    b = text_ccnet_buckets(spark, sf_dir).select(
        "doc_id", (F.col("bucket") != "tail").alias("b_ok")
    )
    d = text_diversity(spark, sf_dir).select(
        "doc_id",
        (F.col("simpson_q") <= ENSEMBLE_SIMPSON_MAX_Q).alias("d_ok"),
    )
    ok_gopher = F.coalesce(F.col("g_keep"), F.lit(0))
    ok_fluency = F.coalesce(F.col("b_ok"), F.lit(False)).cast("int")
    ok_diversity = F.coalesce(F.col("d_ok").cast("int"), F.lit(0))
    votes = ok_gopher + ok_fluency + ok_diversity
    return (
        g.join(b, "doc_id", "left")
        .join(d, "doc_id", "left")
        .select(
            "doc_id",
            ok_gopher.cast("int").alias("ok_gopher"),
            ok_fluency.alias("ok_fluency"),
            ok_diversity.cast("int").alias("ok_diversity"),
            votes.cast("int").alias("votes"),
            (votes >= 2).cast("int").alias("keep"),
        )
    )


#: intra-band shuffle buckets for the curriculum rank: the first hex
#: byte of md5(doc_id) — 256 uniform buckets, so the two-level
#: histogram is <= 4 bands x 256 rows regardless of corpus size and
#: every tie-group window partition holds ~1/1024 of the corpus
CURRICULUM_BUCKETS_HEX = 2


@query(
    "corpus_curriculum",
    oracle=_LM_CTE_SQL
    + _CCNET_CTES_SQL
    + _ENSEMBLE_CTES_SQL
    + """
    , keyed AS (
      SELECT doc_id,
             CAST(ok_gopher + ok_fluency + ok_diversity AS BIGINT)
               AS band,
             md5(CAST(doc_id AS VARCHAR)) AS k
      FROM ens
    )
    SELECT doc_id, band,
           CAST(ROW_NUMBER() OVER (
             ORDER BY band DESC, k ASC, doc_id ASC
           ) AS BIGINT) AS curriculum_rank
    FROM keyed
    """,
    tags=("text", "pipeline"),
)
def corpus_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum training order: rank the corpus highest-quality
    first (the ensemble vote count as the quality band, 3..0) with a
    deterministic md5 shuffle WITHIN each band — clean data first,
    random order inside each tier, reproducible across runs: the
    data-ordering plan a curriculum-learning loader consumes
    (band-descending is the canonical easy/clean-first schedule;
    anti-curriculum is a reversed read of the same plan).

    The oracle's spelling is ONE GLOBAL ROW_NUMBER over (band DESC,
    md5 ASC) — a total sort of the corpus. The engine computes the
    IDENTICAL rank with no global sort, the text_ccnet_buckets
    histogram technique applied two-level: bucket = the first hex
    byte of the md5 key (256 uniform buckets), so (1) the (band,
    bucket) histogram is <= 4 x 256 rows AT ANY CORPUS SIZE and its
    strict-preceding cumulative count comes from a window over those
    ~1k rows; (2) each doc's offset is a row_number partitioned by
    (band, bucket) — ~1/1024 of the corpus per partition, balanced
    by md5 uniformity, never a single global task; (3) rank =
    cum + offset, exact because bucket-prefix order IS md5-key order
    (hex prefixes compare like the full string). The histogram joins
    back hint-free (AQE broadcasts ~1k rows).

    Scale shape: the ensemble signals dominate (see
    quality_ensemble); the ranking itself adds one balanced tie-group
    window and one broadcastable histogram join — a 100 TB corpus
    gets a total training order without any stage ever sorting more
    than ~0.1% of it in one task.

    The keyed frame is localCheckpoint-materialized (r14): TWO
    consumers read it (the (band, kb) histogram and the tie-group
    window+join) and Spark replicates the producing subtree per
    consumer — the r14 plan audit counted the ENTIRE ensemble
    (20 parquet scans) duplicated into both branches, and the probe
    row sat at ~3x quality_ensemble's. Same fix and rationale as
    dedup's winnowing fps checkpoint (branch re-execution was most
    of that query's first probe row too); ~17 bytes/doc, rebuilt
    from parquet on every run."""
    from pyspark.sql import Window  # noqa: PLC0415

    e = quality_ensemble(spark, sf_dir).select(
        "doc_id",
        (
            F.col("ok_gopher") + F.col("ok_fluency") + F.col("ok_diversity")
        )
        .cast("long")
        .alias("band"),
        F.md5(F.col("doc_id").cast("string")).alias("k"),
    )
    keyed = e.withColumn(
        "kb", F.substring("k", 1, CURRICULUM_BUCKETS_HEX)
    ).localCheckpoint(eager=False)
    hw = (
        Window.orderBy(F.col("h_band").desc(), F.col("h_kb").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    hist = (
        keyed.groupBy("band", "kb")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("band").alias("h_band"),
            F.col("kb").alias("h_kb"),
            F.col("cnt"),
        )
        .select(
            "h_band",
            "h_kb",
            F.coalesce(F.sum("cnt").over(hw), F.lit(0)).alias("cum"),
        )
    )
    tw = Window.partitionBy("band", "kb").orderBy(
        F.col("k").asc(), F.col("doc_id").asc()
    )
    return (
        keyed.withColumn("rn", F.row_number().over(tw))
        .join(
            hist,
            (F.col("band") == F.col("h_band"))
            & (F.col("kb") == F.col("h_kb")),
        )
        .select(
            "doc_id",
            "band",
            (F.col("cum") + F.col("rn"))
            .cast("long")
            .alias("curriculum_rank"),
        )
    )


#: PMI collocation knobs: drop hapax pairs (their PMI is maximal by
#: construction and pure noise), report the top-50.
PMI_MIN_COUNT = 2
PMI_TOPK = 50


def _bigram_structs(words: Column) -> Column:
    """Adjacent-pair structs (w1, w2) — same zip_with(slice, slice)
    formulation as _bigrams (and for the same reason: the
    transform(sequence..) form re-splits the text per element)."""
    n = F.size(words) - 1
    return F.zip_with(
        F.slice(words, 1, n),
        F.slice(words, 2, n),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )


@query(
    "text_collocations_pmi",
    oracle=f"""
    WITH uni AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ), cx AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM uni GROUP BY w
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS t FROM uni
    ), bg AS (
      SELECT unnest({_ORACLE_BIGRAMS}) AS bigram
      FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ), sp AS (
      SELECT string_split(bigram, ' ')[1] AS w1,
             string_split(bigram, ' ')[2] AS w2
      FROM bg
    ), cxy AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_pair
      FROM sp GROUP BY w1, w2
      HAVING COUNT(*) >= {PMI_MIN_COUNT}
    )
    SELECT b.w1, b.w2, b.c_pair, x.c AS c_w1, y.c AS c_w2,
           CAST((1000000::HUGEINT * b.c_pair * (SELECT t FROM tot))
                  // (x.c::HUGEINT * y.c) AS BIGINT) AS pmi_q
    FROM cxy b
    JOIN cx x ON x.w = b.w1
    JOIN cx y ON y.w = b.w2
    ORDER BY pmi_q DESC, w1, w2
    LIMIT {PMI_TOPK}
    """,
    tags=("text",),
)
def text_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 bigram collocations by quantized pointwise mutual
    information — the frequency-NORMALIZED companion to
    text_topn_ngrams' raw counts. Raw bigram counts surface whatever
    the unigram distribution makes frequent ("of the"); PMI lift
    ``c_pair * T / (c_w1 * c_w2)`` surfaces pairs that co-occur far
    above chance — multiword expressions, templated boilerplate
    phrases, junk mining for stopword/stop-phrase lists (the same
    pass CCNet/Gopher pipelines run before writing cleaning rules).

    Determinism: the score ships as ``pmi_q`` = floor(1e6 * lift) in
    exact integer arithmetic (Spark DECIMAL(38,0) ``DIV`` == DuckDB
    HUGEINT ``//`` on positive operands — parity spot-checked in this
    session's harness run), per the registry's integer-quantization
    rule; production would keep the double ``log2`` PMI. Hapax pairs
    (c_pair < PMI_MIN_COUNT=2) are dropped BEFORE the unigram joins —
    under Zipf that prunes the dominant mass of the pair table ahead
    of the only shuffle joins in the plan.

    Scale shape: unigram counts and pair counts are two exploded
    groupBys with map-side combine (shuffle carries distinct tokens /
    distinct surviving pairs, not token instances). The two
    vocab-sized ``cx`` joins are plain equi-joins — NEVER broadcast
    (vocabulary is 10^8-10^9 tokens at web scale; AQE may still
    broadcast at small SF, which is correct there). The corpus total
    ``t`` is the one broadcast: a single-row aggregate. Top-50 via
    TakeOrderedAndProject (per-partition heaps), no global sort, no
    window — plan-pinned in tests/test_plans.py."""
    docs = load(spark, sf_dir, "documents")
    words = _words()
    toks = docs.select(F.explode(words).alias("w"))
    cx = toks.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("c"))
    tot = toks.agg(F.count(F.lit(1)).cast("long").alias("t"))
    pairs = (
        docs.filter(F.size(words) >= 2)
        .select(F.explode(_bigram_structs(words)).alias("bg"))
        .select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )
    cxy = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c_pair"))
        .filter(F.col("c_pair") >= PMI_MIN_COUNT)
    )
    scored = (
        cxy.join(
            cx.select(F.col("w").alias("w1"), F.col("c").alias("c_w1")),
            "w1",
        )
        .join(
            cx.select(F.col("w").alias("w2"), F.col("c").alias("c_w2")),
            "w2",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "c_pair",
            "c_w1",
            "c_w2",
            F.expr(
                "CAST((CAST(1000000 AS DECIMAL(38,0)) * c_pair * t)"
                " DIV (CAST(c_w1 AS DECIMAL(38,0)) * c_w2) AS BIGINT)"
            ).alias("pmi_q"),
        )
    )
    return scored.orderBy(F.desc("pmi_q"), "w1", "w2").limit(PMI_TOPK)


#: fixture-frequent query phrase (7 corpus occurrences at sf0.01) —
#: three consecutive ``split(text, ' ')`` tokens.
PHRASE = ("row", "column", "sort")


#: shared by text_phrase_search and its indexed deployment twin —
#: one spec, zero copy-paste drift surface.
_PHRASE_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ), hit AS (
      SELECT doc_id, i
      FROM t, LATERAL (
        SELECT unnest(generate_series(1, len(ts) - 2)) AS i
      )
      WHERE ts[i] = '{PHRASE[0]}'
        AND ts[i+1] = '{PHRASE[1]}'
        AND ts[i+2] = '{PHRASE[2]}'
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_matches,
           CAST(MIN(i) - 1 AS BIGINT) AS first_pos
    FROM hit
    GROUP BY doc_id
    """


@query(
    "text_phrase_search",
    oracle=_PHRASE_ORACLE,
    tags=("text", "search"),
)
def text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search ("row column sort") — the serving-side
    analog of dedup_exact_substring's shared-span mining. Emits
    matching docs with occurrence count and the first match's 0-based
    token offset (the snippet anchor).

    Plan: a pure scan like text_search_boolean — one codegen stage,
    no shuffle, join, explode or Python; posting-list intersection is
    the indexed twin's plan. Tokens are ``split(text, ' ')``, so with
    the text padded by one space each side, a hit is the phrase with
    a space on both sides. The ``contains`` filter reaches the parquet
    scan; ``n_matches`` counts ``(?<= )row column sort(?= )``, whose
    zero-width lookarounds let back-to-back phrases share a space;
    ``first_pos`` counts the spaces before the first hit. The prefix
    comes from ``substring_index`` (characters): a ``regexp_instr``
    offset counts UTF-16 units and drifts past astral characters."""
    needle = " ".join(PHRASE)
    padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    hit_re = "(?<= )" + " ".join(re.escape(t) for t in PHRASE) + "(?= )"
    prefix = F.substring_index(padded, f" {needle} ", 1)
    n_spaces = F.length(prefix) - F.length(F.replace(prefix, F.lit(" ")))
    return (
        load(spark, sf_dir, "documents")
        .filter(F.col("text").contains(needle))
        .select(
            "doc_id",
            F.regexp_count(padded, F.lit(hit_re)).cast("long").alias("n_matches"),
            n_spaces.cast("long").alias("first_pos"),
        )
        .filter(F.col("n_matches") > 0)
    )


def _phrase_eval(postings: DataFrame) -> DataFrame:
    """Positional intersection of (doc_id, pos, w) postings for
    PHRASE — text_phrase_search_indexed's plan."""
    p = [
        postings.filter(F.col("w") == term)
        .select("doc_id", F.col("pos").alias(f"pos{i}"))
        .alias(f"p{i}")
        for i, term in enumerate(PHRASE)
    ]
    # position arithmetic lives IN the join condition so Catalyst
    # extracts (doc_id, pos+k) as hash-join keys — a post-join filter
    # would degrade to a doc_id-only join materializing tf1 x tf2
    # pairs per document. Side aliases keep the doc_id keys apart.
    hits = p[0]
    for k in range(1, len(PHRASE)):
        hits = hits.join(
            p[k],
            (F.col("p0.doc_id") == F.col(f"p{k}.doc_id"))
            & (F.col(f"pos{k}") == F.col("pos0") + k),
        )
    return hits.groupBy(F.col("p0.doc_id").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_matches"),
        F.min("pos0").cast("long").alias("first_pos"),
    )


#: term-bucket count for the partitioned posting index (the partition
#: key is a bounded md5 bucket, never the raw term: a web-scale vocab
#: would mint 10^8 directories; 64 buckets prune ~95% of the index
#: for a 3-term phrase at any vocabulary size).
PIDX_BUCKETS = 64

_PIDX_MEMO: dict = {}


def _term_bucket(term: str) -> int:
    """Driver-side twin of the engine's md5 bucket (same 8-hex-digit
    prefix arithmetic as pipeline_ops.hash_bucket, mod PIDX_BUCKETS)."""
    import hashlib  # noqa: PLC0415

    return int(hashlib.md5(term.encode()).hexdigest()[:8], 16) % PIDX_BUCKETS


def _phrase_index(spark: SparkSession, sf_dir: str) -> str:
    """Build (or reuse) the maintained positional posting index:
    managed table ``fss_pidx_<slug>`` of (doc_id, pos, w) PARTITIONED
    BY the term's md5 bucket ``kb``. Bounded retention: rebuilding for
    a new corpus drops other pidx generations and sweeps orphaned
    warehouse dirs — same contract as the shingle index."""
    import os  # noqa: PLC0415
    import shutil  # noqa: PLC0415

    from file_scraper_spark.tables import data_key  # noqa: PLC0415

    key = data_key(sf_dir, "documents")
    hit = _PIDX_MEMO.get(key)
    if hit is not None and spark.catalog.tableExists(hit):
        return hit
    import hashlib  # noqa: PLC0415

    slug = hashlib.md5(repr(key).encode()).hexdigest()[:12]
    name = f"fss_pidx_{slug}"
    for t in spark.catalog.listTables():
        if t.name.startswith("fss_pidx_"):
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    wh = wh.removeprefix("file:")
    try:
        for d in os.scandir(wh):
            if d.name.startswith("fss_pidx_"):
                shutil.rmtree(d.path, ignore_errors=True)
    except OSError:
        pass
    docs = load(spark, sf_dir, "documents")
    (
        docs.select("doc_id", F.posexplode(_words()).alias("pos", "w"))
        .withColumn(
            "kb",
            (
                F.conv(F.substring(F.md5("w"), 1, 8), 16, 10).cast("long")
                % PIDX_BUCKETS
            ).cast("int"),
        )
        .write.mode("overwrite")
        .partitionBy("kb")
        .saveAsTable(name)
    )
    _PIDX_MEMO[key] = name
    return name


@query(
    "text_phrase_search_indexed",
    oracle=_PHRASE_ORACLE,
    tags=("text", "search", "indexed"),
)
def text_phrase_search_indexed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """text_phrase_search's DEPLOYMENT shape (the move
    dedup_incremental_indexed made for the shingle index): positional
    postings live in a warehouse table PARTITIONED BY md5 term bucket
    (64 buckets — bounded directory count at any vocabulary size),
    built once per corpus change; the serving path reads ONLY the
    phrase terms' buckets via partition pruning (plan-pinned:
    PartitionFilters on ``kb``, no documents scan, no tokenize) and
    intersects them by position (_phrase_eval). Same oracle as the
    scan variant — one spec, two physical strategies.

    Cost split at 100 TB: the index build is the one corpus-sized
    pass, amortized across every query; each phrase query then
    touches ~|phrase|/64 of the index and shuffles only those
    postings, where the scan variant reads every document's text."""
    name = _phrase_index(spark, sf_dir)
    buckets = sorted({_term_bucket(t) for t in PHRASE})
    postings = (
        spark.table(name)
        .filter(F.col("kb").isin(buckets))
        .filter(F.col("w").isin(*PHRASE))
        .select("doc_id", "pos", "w")
    )
    return _phrase_eval(postings)


#: boolean retrieval query: ALL of BOOL_MUST, NONE of BOOL_MUST_NOT.
BOOL_MUST = ("spark", "merge")
BOOL_MUST_NOT = ("vector",)


@query(
    "text_search_boolean",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ), flags AS (
      SELECT doc_id,
             {" + ".join(
                 "len(list_filter(ts, w -> w = '%s'))" % w
                 for w in BOOL_MUST
             )} AS tf_must,
             {" AND ".join(
                 "list_contains(ts, '%s')" % w for w in BOOL_MUST
             )} AS has_all,
             {" OR ".join(
                 "list_contains(ts, '%s')" % w for w in BOOL_MUST_NOT
             )} AS has_banned
      FROM t
    )
    SELECT doc_id, CAST(tf_must AS BIGINT) AS tf_must
    FROM flags
    WHERE has_all AND NOT has_banned
    """,
    tags=("text", "search"),
)
def text_search_boolean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean retrieval — docs matching (spark AND merge)
    AND NOT (vector) — the filter-language
    companion to text_bm25_topk's ranked retrieval: corpus curation
    expresses inclusion/exclusion rules ("has 'spark' and 'merge',
    no 'vector'") as posting-list set algebra, and this operator is
    that algebra. Ships each hit with the summed must-term frequency
    (the ranking signal a downstream scorer would consume).

    Plan: per-row higher-order array functions (filter/array_contains
    — JVM-side, no UDF, no explode): one scan, one projection, one
    pushed-down... the predicate itself can't reach parquet (it's
    over split output) but everything stays in whole-stage codegen
    and NOTHING shuffles — boolean retrieval over a raw corpus is a
    pure scan problem. Deployed against a pre-built inverted index
    the same query becomes posting-list intersection (the
    text_phrase_search machinery minus position arithmetic); the
    scan form here is what you run when building that index in the
    first place."""
    docs = load(spark, sf_dir, "documents")
    ts = _words()
    def _tf(term: str) -> Column:
        # closure over the function arg — a `lambda w, term=term:`
        # default would give the lambda arity 2 and PySpark would
        # bind the second param to the ELEMENT INDEX.
        return F.size(F.filter(ts, lambda w: w == F.lit(term)))

    tf = [_tf(term) for term in BOOL_MUST]
    has_all = F.lit(True)
    for term in BOOL_MUST:
        has_all = has_all & F.array_contains(ts, term)
    has_banned = F.lit(False)
    for term in BOOL_MUST_NOT:
        has_banned = has_banned | F.array_contains(ts, term)
    tf_must = tf[0]
    for c in tf[1:]:
        tf_must = tf_must + c
    return (
        docs.select(
            "doc_id",
            tf_must.cast("long").alias("tf_must"),
            has_all.alias("ha"),
            has_banned.alias("hb"),
        )
        .filter(F.col("ha") & ~F.col("hb"))
        .select("doc_id", "tf_must")
    )
