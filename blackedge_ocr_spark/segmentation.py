"""Document segmentation: DOM parse → block extraction → boilerplate
strip → ordered interleaved spans.

This is the engine's ingest stage (north star: "batched DOM/byte-stream
tokenization, boilerplate stripping (text-density + link-density
heuristics over parsed DOM node trees), PDF/layout block segmentation
directly inside executors"). It replaces the reference's per-page
pdfplumber/provider loops (reference:
src/services/workflows/text_extraction_handler.py:96-150,
src/services/clients/mistral_client.py:164-218) with one vectorized
stage:

    raw_documents(doc_id, raw:string) --arrow_udf--> documents(doc_id, spans)

Design:
- ``segment_html`` is a PURE function (stdlib HTMLParser, no Spark) —
  unit-testable without a session, per SURVEY §7 M4.
- ``segment_documents`` wraps it in a scalar ``F.arrow_udf`` (one doc
  in, one span array out); the stage is a pure map (no shuffle), so it
  scales linearly with executors; mega-docs are bounded per Arrow
  batch by ``spark.sql.execution.arrow.maxRecordsPerBatch``. Unlike
  ``mapInPandas``, the planner can push a ``doc_id`` filter through a
  scalar UDF, so a checkpoint batch parses only its own buckets; and
  unlike a scalar ``pandas_udf``, its output is not folded into a
  downstream UDF's arguments, so ``extract_documents``' staged arrays
  stay attributes.
- ``htmlify_documents`` widens a starved scan to one task per core
  (``session.spread_if_starved``): each Python task pays a fixed
  worker set-up, so more tasks than cores buy nothing here.

Boilerplate heuristics (justext/Arc90-family, re-derived from the
published approach, not copied from any implementation):
- link_density = linked chars / text chars; blocks > 0.33 are dropped
  (nav bars, footers, related-links lists).
- short non-heading blocks (< 25 chars) are dropped (buttons, labels).
- headings (h1-h6) are kept regardless of length when they carry text.
- <table> subtrees become one ``table`` span: rows joined with
  newlines, cells with " | " (the reference's table shape,
  text_extraction_handler.py:152-182).
- <img src=...> becomes an ``image`` span carrying media_ref.
"""

from __future__ import annotations

from html.parser import HTMLParser

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from blackedge_ocr_spark.schema import SPAN_STRUCT
from blackedge_ocr_spark.session import spread_if_starved

MAX_LINK_DENSITY = 0.33
MIN_BLOCK_CHARS = 25

_BLOCK_TAGS = {"p", "div", "li", "h1", "h2", "h3", "h4", "h5", "h6",
               "article", "section", "blockquote", "pre"}
_HEADING_TAGS = {"h1", "h2", "h3", "h4", "h5", "h6"}
_SKIP_SUBTREES = {"script", "style", "nav", "noscript"}


class _BlockCollector(HTMLParser):
    """Flatten a DOM into ordered blocks with text/link char counts."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[dict] = []
        self._stack: list[str] = []
        self._skip_depth = 0
        self._cur: dict | None = None
        self._in_link = False
        self._table: list[list[str]] | None = None
        self._table_depth = 0
        self._row: list[str] | None = None
        self._cell: list[str] | None = None

    # -- helpers -----------------------------------------------------
    def _open_block(self, tag: str) -> None:
        self._flush()
        self._cur = {"tag": tag, "text": [], "link_chars": 0}

    def _fold_cell(self) -> None:
        """Fold an open <td>/<th> buffer into the current row — called
        on explicit closes AND on the implicit closes real web HTML
        uses constantly (a new <td>/<tr> start, or </tr>/</table>
        without per-cell closes). Previously a new cell/row start
        DISCARDED the open buffer, silently dropping nearly all cell
        text from implicit-close tables."""
        if self._cell is not None:
            self._row = self._row if self._row is not None else []
            self._row.append(" ".join("".join(self._cell).split()))
            self._cell = None

    def _flush(self) -> None:
        if self._cur is not None:
            text = "".join(self._cur["text"]).strip()
            if text:
                self.blocks.append(
                    {
                        "kind": "text",
                        "tag": self._cur["tag"],
                        "text": " ".join(text.split()),
                        "link_chars": self._cur["link_chars"],
                    }
                )
            self._cur = None
        # Link state is BLOCK-SCOPED: real web HTML routinely leaves
        # anchors unclosed, and HTMLParser never auto-closes them — a
        # sticky flag would count every later block as 100% linked and
        # boilerplate-drop the rest of the document. The density
        # heuristic is per-block anyway (justext's shape), so an
        # anchor legally spanning blocks only marks its first block.
        self._in_link = False

    def _finalize_table(self) -> None:
        """Emit the collected table (shared by </table> and close() —
        a document truncated mid-table keeps its rows, like an
        unterminated paragraph keeps its text). Open cell/row buffers
        fold in first."""
        self._fold_cell()
        if self._row is not None:
            self._table.append(self._row)
            self._row = None
        rows = [" | ".join(c or "" for c in row) for row in self._table]
        text = "\n".join(r for r in rows if r.strip())
        if text:
            self.blocks.append(
                {"kind": "table", "tag": "table", "text": text,
                 "link_chars": 0}
            )
        self._table = None
        self._table_depth = 0

    # -- parser events -----------------------------------------------
    def handle_starttag(self, tag, attrs):
        if tag in _SKIP_SUBTREES:
            self._skip_depth += 1
            return
        if self._skip_depth:
            return
        if tag == "table":
            if self._table is not None:
                # nested table: rows fold into the outer table (depth-
                # tracked so the inner </table> doesn't finalize the
                # outer buffer — previously it CLOBBERED it, losing
                # every outer row)
                self._table_depth += 1
            else:
                self._flush()
                self._table = []
            return
        if self._table is not None:
            if tag == "tr":
                self._fold_cell()
                if self._row is not None:
                    self._table.append(self._row)
                self._row = []
            elif tag in ("td", "th"):
                self._fold_cell()
                self._cell = []
            elif tag == "img":
                # figures inside table cells still carry media refs —
                # the image span is emitted BEFORE the enclosing table
                # block (the table finalizes at </table>); without
                # this the ref never reached the OCR-classify stage
                src = dict(attrs).get("src") or ""
                self.blocks.append(
                    {"kind": "image", "tag": "img", "text": "",
                     "media_ref": src}
                )
            return
        if tag == "img":
            self._flush()
            src = dict(attrs).get("src") or ""
            self.blocks.append(
                {"kind": "image", "tag": "img", "text": "", "media_ref": src}
            )
            return
        if tag == "a":
            self._in_link = True
            return
        if tag in _BLOCK_TAGS:
            self._open_block(tag)

    def handle_endtag(self, tag):
        if tag in _SKIP_SUBTREES:
            self._skip_depth = max(0, self._skip_depth - 1)
            return
        if self._skip_depth:
            return
        if tag == "table" and self._table is not None:
            if self._table_depth > 0:
                self._table_depth -= 1
            else:
                self._finalize_table()
            return
        if self._table is not None:
            if tag in ("td", "th"):
                self._fold_cell()
            elif tag == "tr":
                self._fold_cell()
                if self._row is not None:
                    self._table.append(self._row)
                    self._row = None
            return
        if tag == "a":
            self._in_link = False
            return
        if tag in _BLOCK_TAGS:
            self._flush()

    def handle_data(self, data):
        if self._skip_depth:
            return
        if self._table is not None:
            if self._cell is not None:
                self._cell.append(data)
            return
        if self._cur is None and data.strip():
            # text outside any block tag → implicit paragraph
            self._open_block("p")
        if self._cur is not None:
            self._cur["text"].append(data)
            if self._in_link:
                # count NORMALIZED chars — the density denominator is
                # the whitespace-collapsed block text, so counting raw
                # stripped chars inflated density past 1.0 on anchors
                # containing whitespace runs (pretty-printed HTML)
                self._cur["link_chars"] += len(" ".join(data.split()))

    def close(self):
        super().close()
        if self._table is not None:
            self._finalize_table()
        self._flush()


def segment_html(raw: str) -> list[tuple[str, str, str, int]]:
    """raw HTML-ish text → ordered spans [(kind, text, media_ref, offset)].

    Pure function (no Spark): parse the DOM, collect blocks, drop
    boilerplate by link-density/length, emit interleaved spans.
    """
    parser = _BlockCollector()
    parser.feed(raw or "")
    parser.close()
    spans: list[tuple[str, str, str, int]] = []
    for b in parser.blocks:
        if b["kind"] == "image":
            spans.append(("image", "", b.get("media_ref", ""), len(spans)))
            continue
        if b["kind"] == "table":
            spans.append(("table", b["text"], "", len(spans)))
            continue
        text = b["text"]
        n = len(text)
        link_density = b["link_chars"] / n if n else 1.0
        if link_density > MAX_LINK_DENSITY:
            continue  # nav / footer / link list
        if n < MIN_BLOCK_CHARS and b["tag"] not in _HEADING_TAGS:
            continue  # button, label, crumb
        spans.append(("text", text, "", len(spans)))
    return spans


_SPANS_ARROW = to_arrow_type(T.ArrayType(SPAN_STRUCT))


@F.arrow_udf(T.ArrayType(SPAN_STRUCT))
def _segment(raw: pa.Array) -> pa.Array:
    return pa.array(
        [segment_html(r) for r in raw.to_pylist()], type=_SPANS_ARROW
    )


def segment_documents(raw_docs: DataFrame) -> DataFrame:
    """raw_documents(doc_id, raw) → documents(doc_id, spans) via a
    scalar Arrow UDF (SURVEY §2.14-1). The parse is one row in, one
    row out, so Catalyst pushes a filter on ``doc_id`` (the bucket
    filter of ``run_with_checkpoint``) past it down to the scan:
    each batch parses only its own documents."""
    return raw_docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        _segment("raw").alias("spans"),
    )


# ---------------------------------------------------------------------
# Deterministic raw-HTML corpus from the driver documents table
# ---------------------------------------------------------------------

_NAV = (
    '<nav><ul><li><a href="/">home</a></li><li><a href="/about">about'
    '</a></li><li><a href="/contact">contact us now</a></li></ul></nav>'
)
_FOOTER = (
    '<div><a href="/terms">terms of service</a> <a href="/privacy">'
    "privacy policy</a> <a href=\"/jobs\">careers page</a></div>"
)


def htmlify_documents(spark, sf_dir: str, words_per_para: int = 30) -> DataFrame:
    """documents.parquet → raw_documents(doc_id, raw): the doc's words
    as <p> paragraphs wrapped in deterministic nav/footer boilerplate,
    with a heading, an img every 3rd doc and a table every 5th.
    Pure column arithmetic — seed-free, reproducible."""
    docs = spark.read.parquet(f"{sf_dir.rstrip('/')}/documents.parquet")
    # one task per core on a single-file input, none added at scale:
    # every task pays a fixed Python worker set-up in the parse
    docs = spread_if_starved(docs, None, "doc_id")
    toks = F.split(F.col("text"), " ")
    n_paras = F.greatest(
        F.ceil(F.size(toks) / F.lit(words_per_para)).cast("int"), F.lit(1)
    )
    paras = F.transform(
        F.sequence(F.lit(0), n_paras - 1),
        lambda i: F.concat(
            F.lit("<p>"),
            F.array_join(F.slice(toks, i * words_per_para + 1, words_per_para), " "),
            F.lit(".</p>"),
        ),
    )
    heading = F.concat(
        F.lit("<h1>Document "), F.col("doc_id").cast("string"), F.lit("</h1>")
    )
    img = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(F.lit('<img src="m-'), F.col("doc_id").cast("string"),
                 F.lit('-img">')),
    ).otherwise(F.lit(""))
    table = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(
            F.lit("<table><tr><th>k</th><th>v</th></tr><tr><td>id</td><td>"),
            F.col("doc_id").cast("string"),
            F.lit("</td></tr><tr><td>chars</td><td>"),
            F.col("n_chars").cast("string"),
            F.lit("</td></tr></table>"),
        ),
    ).otherwise(F.lit(""))
    raw = F.concat(
        F.lit("<html><body>"), F.lit(_NAV), heading,
        F.array_join(paras, ""), img, table, F.lit(_FOOTER),
        F.lit("</body></html>"),
    )
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"), raw.alias("raw")
    )
