"""Deterministic synthetic span corpora.

Two generators, both pure and seed-stable (no wall clock, no RNG at
read time):

- ``fixture_documents()`` — small adversarial corpus covering every
  problem-detector trigger, routing class, similarity edge case and
  ordering trap (FIXTURES.md §2); used by pytest against the oracle.
- ``spansify_documents(spark, sf_dir)`` — Spark-native conversion of
  the driver's ``documents.parquet`` into the interleaved span table
  of BASELINE.json ``input_hint`` shape, with media/table spans mixed
  in by deterministic arithmetic and spans *stored scrambled* so the
  engine must re-sort. Scales with sf; used by entry() and bench.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from blackedge_ocr_spark.schema import DOCUMENTS_SCHEMA
from blackedge_ocr_spark.session import spread_if_starved

# --------------------------------------------------------------------
# Adversarial pytest fixture corpus (FIXTURES.md §2 strata).
# --------------------------------------------------------------------

_CLEAN = (
    "The quarterly report shows steady progress across all regions. "
    "Revenue grew in every segment, and the team shipped four releases. "
    "Customers report higher satisfaction, while churn remains low. "
    "Next quarter we plan two launches, one migration, and a review."
)

_UNPUNCTUATED = " ".join(
    ["alpha beta gamma delta epsilon zeta eta theta iota kappa"] * 6
)

_GIBBERISH = " ".join(["bcdfg hjklm pqrst vwxzz brrtk sldkj"] * 2)

_TABLE_OK = "TABLE 1:\nName | Count\nWidgets | 12\nGadgets | 34"
_TABLE_NO_DIGITS = "TABLE:\nName | Status\nWidgets | ok\nGadgets | fine"
_TABLE_RAGGED = "a | b\nc | d | e | f\ng\nh | i | j\nk | l | m | n | o"


def _spans(*entries):
    """entries: (kind, text_or_ref, offset) — media kinds take a ref."""
    out = []
    for kind, payload, offset in entries:
        if kind in ("image", "page"):
            out.append((kind, "", payload, offset))
        else:
            out.append((kind, payload, "", offset))
    return out


def fixture_documents():
    """[(doc_id, spans, query, explicit_workflow)] adversarial corpus."""
    docs = []

    def add(doc_id, spans, query="", explicit=None):
        docs.append((doc_id, spans, query, explicit))

    # Clean doc, default routing (mistral), validation passes: no
    # numbers on either side → number_frequency = 1.0.
    add("d001", _spans(("text", _CLEAN, 0), ("text", _CLEAN, 1)))

    # Spans stored scrambled — engine must re-sort by offset (W1).
    add(
        "d002",
        _spans(("text", _CLEAN + " Page three.", 2),
               ("text", _CLEAN + " Page one.", 0),
               ("text", _CLEAN + " Page two.", 1)),
    )

    # Whitespace mangling (normalize vectors).
    add("d003", _spans(("text", "  Hello   World  ", 0),
                       ("text", "Line1\n\n\nLine2\r\nLine3", 1)))

    # Numeric content: primary==secondary numbers → sim 1.0.
    add("d004", _spans(
        ("text", _CLEAN + " Price: $1,234.56 and growth rate: 25%.", 0),
        ("text", _CLEAN + " Scores: 85, 90, 95 at -15 degrees.", 1)))

    # Tables.
    add("d005", _spans(("table", _TABLE_OK + "\n" + _CLEAN, 0)))
    add("d006", _spans(("table", _TABLE_NO_DIGITS, 0)))       # D2 (+D1,D4)
    add("d007", _spans(("text", _TABLE_RAGGED + " 1 2 3", 0)))  # D7 (+…)

    # Problem triggers.
    add("d008", _spans(("text", "tiny", 0)))                   # D1, D4
    add("d009", _spans(("text", "1234567890 " * 12, 0)))       # D4 only? (12 words)
    add("d010", _spans(("text", _CLEAN + " xxxxxxxxxxxxxxx", 0)))   # D3
    add("d011", _spans(("text", _GIBBERISH, 0)))               # D5 (+D1,D4,…)
    add("d012", _spans(("text", _CLEAN + " café déjà vu résumé naïve touché", 0)))
    add("d013", _spans(("text", _CLEAN + " a\x01b", 0)))       # D6 control char
    add("d014", _spans(("text", _CLEAN + " " * 25 + "end", 0)))  # D8 spaces
    add("d015", _spans(("text", _CLEAN + "\n\n\n" * 7 + _CLEAN, 0)))  # D8 blanks
    add("d016", _spans(("text", _CLEAN + " donâ€™t Ã© caf", 0)))  # D9 (+D6 run?)
    add("d017", _spans(("text", _UNPUNCTUATED, 0)))            # D10
    add("d018", _spans(("text", "", 0), ("text", _CLEAN, 1)))  # empty page
    add("d019", _spans(("text", _CLEAN + " see ---PAGE-BREAK--- marker "
                        "and [PAGE BREAK] too", 0)))

    # Media spans → OCR-classify stage; provider hex digits differ
    # between primary and secondary → low similarity → secondary used.
    add("d020", _spans(("text", _CLEAN, 0), ("image", "m-d020-1", 1),
                       ("page", "m-d020-2", 2)))
    add("d021", _spans(("image", "m-d021-0", 0)))

    # Routing coverage: keywords, priority collision, case, explicit.
    add("d022", _spans(("text", _CLEAN, 0)), query="plain text please")
    add("d023", _spans(("text", _CLEAN, 0)),
        query="TEXT EXTRACTION of smart tables")        # priority: text wins
    add("d024", _spans(("text", _CLEAN, 0)), query="extract the invoice form")
    add("d025", _spans(("text", _TABLE_OK, 0)), query="scanned charts ocr")
    add("d026", _spans(("text", _CLEAN, 0)), query="maximum quality google")
    add("d027", _spans(("text", _CLEAN, 0)), query="use gemini", explicit="AZURE-DI ")
    add("d028", _spans(("text", _CLEAN, 0)), explicit="text")
    add("d029", _spans(("text", _CLEAN, 0)), explicit="default")
    add("d030", _spans(("text", _CLEAN, 0)), explicit="ocr")

    # Long text: levenshtein report skip guard (>=5000 chars).
    add("d031", _spans(("text", _CLEAN * 20, 0)))

    # Mega-doc (skew stratum): 120 spans.
    add(
        "d032",
        _spans(*[("text", f"{_CLEAN} section {i} value {i * 37}.", i)
                 for i in range(120)]),
    )

    # Number-overlap strata bracketing the 0.85 threshold when paired
    # by the similarity tests (not the pipeline).
    add("d033", _spans(("text", _CLEAN + " totals 10 20 30 40", 0)))
    return docs


def fixture_dataframe(spark: SparkSession) -> DataFrame:
    """Fixture corpus as a documents DataFrame (+ query/explicit cols)."""
    rows = [
        (doc_id, [tuple(s) for s in spans], query, explicit)
        for doc_id, spans, query, explicit in fixture_documents()
    ]
    from pyspark.sql import types as T

    schema = T.StructType(
        list(DOCUMENTS_SCHEMA.fields)
        + [
            T.StructField("query", T.StringType(), True),
            T.StructField("explicit_workflow", T.StringType(), True),
        ]
    )
    return spark.createDataFrame(rows, schema)


# --------------------------------------------------------------------
# Scalable spansified corpus from the driver tables.
# --------------------------------------------------------------------


def replicate_corpus(docs: DataFrame, replicate: int | None = None) -> DataFrame:
    """Deterministic corpus blow-up for scaling benchmarks: each doc
    becomes ``replicate`` docs with disjoint doc_id ranges (doc_id +
    10^7·r), so all doc_id-derived arithmetic (routing templates,
    media placement, mega-doc stratum) varies per replica. Controlled
    by $SPARK_GRAFT_REPLICATE (default 1 = no-op) so correctness runs
    are untouched."""
    import os

    rep = (
        int(os.environ.get("SPARK_GRAFT_REPLICATE", "1"))
        if replicate is None
        else replicate
    )
    if rep <= 1:
        return docs
    r = F.explode(F.sequence(F.lit(0), F.lit(rep - 1)))
    return (
        docs.withColumn("_r", r)
        .withColumn(
            "doc_id",
            F.col("doc_id") + F.col("_r").cast("long") * F.lit(10_000_000).cast("long"),
        )
        .drop("_r")
    )


def spansify_documents(
    spark: SparkSession,
    sf_dir: str,
    words_per_span: int = 40,
    mega_doc_every: int = 211,
    mega_doc_factor: int = 25,
) -> DataFrame:
    """documents.parquet(doc_id,text,…) → documents(doc_id, spans, query).

    Deterministic rules (arithmetic on (doc_id, span index) only):
    - text chunked into ``words_per_span``-word spans;
    - (7*doc_id + i) % 9 == 3 → image span with media_ref m-<doc>-<i>;
      == 7 → table span (words joined with " | " under a TABLE header);
    - every ``mega_doc_every``-th doc repeats its tokens
      ``mega_doc_factor``× (mega-doc skew stratum, north rule);
    - spans stored scrambled (sorted by md5 of doc:offset) so the
      engine's re-sort is actually exercised;
    - query cycles through templates by doc_id so all five workflows
      occur, plus the doc's own words (which hit 'scan'/'table'
      keywords organically).

    With 40-word spans most text spans are clean (no D1/D4), so the
    similarity stage genuinely executes: docs whose media-span OCR hex
    digits diverge between providers drop below the 0.85 threshold.
    """
    docs = spark.read.parquet(f"{sf_dir.rstrip('/')}/documents.parquet")
    # Hash-spread a starved scan BEFORE any row blow-up: the sf
    # corpora are single parquet splits, so an explode (replication)
    # or fat span build running pre-shuffle would execute inside the
    # lone scan task — the whole job would serialize through one
    # thread. One task per core, none added at scale: every task of
    # the downstream OCR stage pays a fixed Python worker set-up.
    docs = spread_if_starved(docs, None, "doc_id")
    docs = replicate_corpus(docs)
    return spansify_frame(docs, words_per_span, mega_doc_every, mega_doc_factor)


def spansify_frame(
    docs: DataFrame,
    words_per_span: int = 40,
    mega_doc_every: int = 211,
    mega_doc_factor: int = 25,
) -> DataFrame:
    """The span-construction columns of ``spansify_documents`` over an
    already-loaded documents(doc_id, text, …) DataFrame — ONE codepath
    shared by the batch reader above and the streaming micro-batch
    head (streaming._spansify_batch), so the two produce identical
    spans (mega-doc stratum, scrambled storage and the 7-way query
    template cycle included).

    The token array is materialized as a COLUMN before the span
    transform: expressions referenced inside higher-order-function
    lambdas are re-evaluated per element, so an inline
    ``split(text)`` would re-tokenize the whole document once per
    span — O(spans x words), which turned a 1000x mega-document into
    a 28-second quadratic task. With the select barrier the build is
    linear in document length (BENCH/SKEW.md measures both)."""
    rep = F.when(F.col("doc_id") % mega_doc_every == 0, mega_doc_factor).otherwise(1)
    docs = docs.withColumn(
        "_toks", F.flatten(F.array_repeat(F.split(F.col("text"), " "), rep))
    )
    toks = F.col("_toks")
    wps = F.lit(words_per_span)
    n_spans = F.greatest(F.ceil(F.size(toks) / wps).cast("int"), F.lit(1))

    def make_span(i):
        words = F.slice(toks, i * wps + 1, words_per_span)
        mode = F.pmod(F.col("doc_id") * 7 + i, F.lit(9))
        kind = (
            F.when(mode == 3, F.lit("image"))
            .when(mode == 7, F.lit("table"))
            .otherwise(F.lit("text"))
        )
        media_ref = F.when(
            mode == 3,
            F.concat(F.lit("m-"), F.col("doc_id").cast("string"),
                     F.lit("-"), i.cast("string")),
        ).otherwise(F.lit(""))
        text = (
            F.when(mode == 3, F.lit(""))
            .when(
                mode == 7,
                F.concat(F.lit("TABLE 1:\n"), F.array_join(words, " | ")),
            )
            .otherwise(F.array_join(words, " "))
        )
        return F.struct(
            kind.alias("kind"),
            text.alias("text"),
            media_ref.alias("media_ref"),
            i.cast("int").alias("offset"),
        )

    spans = F.transform(F.sequence(F.lit(0), n_spans - 1), make_span)
    # Store scrambled: deterministic md5-keyed order, never offset order.
    scrambled = F.array_sort(
        spans,
        lambda l, r: F.when(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":"),
                           l["offset"].cast("string")))
            < F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":"),
                             r["offset"].cast("string"))),
            -1,
        )
        .when(l["offset"] == r["offset"], 0)
        .otherwise(1),
    )
    query = F.element_at(
        F.array(
            F.lit("extract data"),                       # mistral default
            F.lit("plain text only"),                    # text_extraction
            F.lit("smart tables and layout"),            # azure_di
            F.lit("scanned charts"),                     # ocr_images
            F.lit("high quality extraction"),            # gemini
            F.array_join(F.slice(F.split(F.col("text"), " "), 1, 4), " "),
            F.lit(""),
        ),
        (F.pmod(F.col("doc_id"), F.lit(7)) + 1).cast("int"),
    )
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        scrambled.alias("spans"),
        query.alias("query"),
    )
