"""Streaming front-end + JSON sink tests."""

import json
import shutil

import pyspark.sql.functions as F

SF = "/root/testdata/sf0.001"


def test_stream_extract_available_now(spark, tmp_path):
    from blackedge_ocr_spark.streaming import stream_extract

    inp = tmp_path / "in"
    inp.mkdir()
    shutil.copy(f"{SF}/documents.parquet", inp / "batch0.parquet")

    q = stream_extract(
        spark,
        str(inp),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(300)
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() == 500
    assert out.select("doc_id").distinct().count() == 500

    # restart with no new files: checkpoint prevents reprocessing
    q2 = stream_extract(
        spark, str(inp), str(tmp_path / "out"), str(tmp_path / "ckpt"),
        available_now=True,
    )
    q2.awaitTermination(300)
    assert spark.read.parquet(str(tmp_path / "out")).count() == 500


def test_stream_batch_span_parity(spark, tmp_path):
    """The streamed micro-batch path shares spansify_frame with the
    batch reader, so per-doc span sequences, workflows and final
    content must be byte-identical to the batch pipeline (mega-doc
    stratum, scrambled storage and query templates included)."""
    from blackedge_ocr_spark.queries import q_pipeline_extract_full
    from blackedge_ocr_spark.streaming import stream_extract

    inp = tmp_path / "in"
    inp.mkdir()
    shutil.copy(f"{SF}/documents.parquet", inp / "batch0.parquet")
    q = stream_extract(
        spark, str(inp), str(tmp_path / "out"), str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(300)

    def fingerprint(df):
        return {
            r["doc_id"]: (r["w"], r["s"], r["c"])
            for r in df.select(
                "doc_id",
                F.col("workflow").alias("w"),
                F.md5(F.to_json("out_spans")).alias("s"),
                F.md5("content").alias("c"),
            ).collect()
        }

    streamed = fingerprint(spark.read.parquet(str(tmp_path / "out")))
    batch = fingerprint(q_pipeline_extract_full(spark, SF))
    assert streamed == batch


def test_json_response_shape(spark):
    from blackedge_ocr_spark.datagen import spansify_documents
    from blackedge_ocr_spark.pipeline import extract_documents
    from blackedge_ocr_spark.sinks import json_response

    result = extract_documents(
        spansify_documents(spark, SF), query_col="query"
    )
    rows = json_response(result).limit(20).collect()
    for r in rows:
        doc = json.loads(r["response"])
        assert doc["status"] == "success"
        assert isinstance(doc["content"], str)
        assert doc["metadata"]["pages"] >= 1
        assert all(s["page_number"] >= 1 for s in doc["sections"])


def test_doc_bundle_matches_reference_zip_layout(spark, tmp_path):
    """doc_bundle emits the reference ZIP's exact file list
    (response_builder.py:73-188): full_content.md + page_NNNN.md per
    section + metadata.json + validation_report.json + README.md —
    sections from the PRIMARY extraction even when secondary content
    is served, like the reference's WorkflowResult."""
    import zipfile

    from blackedge_ocr_spark.constants import CONTENT_SEPARATOR
    from blackedge_ocr_spark.datagen import fixture_dataframe
    from blackedge_ocr_spark.pipeline import extract_documents
    from blackedge_ocr_spark.sinks import doc_bundle, write_bundle_zip

    result = extract_documents(
        fixture_dataframe(spark), query_col="query",
        explicit_col="explicit_workflow",
    ).cache()

    # d020: text + image + page spans, mistral routing; provider hash
    # digits diverge on media → low similarity → secondary served.
    b = doc_bundle(result, "d020")
    assert set(b) == {
        "full_content.md", "page_0001.md", "page_0002.md", "page_0003.md",
        "metadata.json", "validation_report.json", "README.md",
    }
    meta = json.loads(b["metadata.json"])
    assert meta["workflow"] == "mistral"
    assert meta["provider"] == "mistral"
    assert meta["pages"] == 3
    assert meta["used_secondary"] is True
    val = json.loads(b["validation_report.json"])
    assert val["used_secondary"] is True
    assert val["reason"] == "low_similarity"
    # page files are the primary sections, 1-indexed and zero-padded
    row = result.filter(F.col("doc_id") == "d020").collect()[0]
    assert b["page_0002.md"] == row["out_spans"][1]["text"]
    # full_content is the SERVED (secondary) content — differs from the
    # primary page files for this doc, as in the reference
    assert b["full_content.md"] == row["content"]
    assert b["full_content.md"] != CONTENT_SEPARATOR.join(
        s["text"] for s in row["out_spans"]
    )
    # README mirrors _generate_readme
    assert "- **Workflow**: mistral" in b["README.md"]
    assert "- **Pages Processed**: 3" in b["README.md"]
    assert "`page_NNNN.md`: Individual page content (3 files)" in b["README.md"]
    assert (
        "⚠️ **Note**: Secondary extraction was used due to low_similarity"
        in b["README.md"]
    )
    assert "- **used_secondary**: True" in b["README.md"]

    # the zip writer round-trips the same file list
    zpath = str(tmp_path / "d020.zip")
    write_bundle_zip(result, "d020", zpath)
    with zipfile.ZipFile(zpath) as zf:
        assert set(zf.namelist()) == set(b)
        assert zf.read("full_content.md").decode("utf-8") == b["full_content.md"]

    # text_extraction doc: never validates → no validation_report.json
    b28 = doc_bundle(result, "d028")
    assert "validation_report.json" not in b28
    assert "`validation_report.json`" not in b28["README.md"]


def test_stream_dedup_matches_batch_keepers_and_survives_restart(
    spark, tmp_path
):
    """Streaming exact-dedup: (a) survivors == the batch twin's
    keeper set (dedup.exact_duplicates min-id keepers) when files
    arrive in id order; (b) the persistent registry makes a RESTARTED
    query drop duplicates of documents seen before the restart —
    state outlives both the micro-batch and the checkpoint."""
    from blackedge_ocr_spark.analysis import dedup
    from blackedge_ocr_spark.streaming import stream_dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    cols = docs.columns
    # file1: originals 0..499; file2: exact copies of every 10th doc
    # under new ids (the with_dup_injection layout) plus one new doc
    dups = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
    )
    extra = docs.limit(1).withColumn("doc_id", F.lit(2_000_000)).withColumn(
        "text", F.lit("a brand new never seen document")
    )
    inp = tmp_path / "din"
    inp.mkdir()
    docs.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "s1"))
    dups.unionByName(extra).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "s2")
    )
    import os
    import time

    for i, stage in enumerate(["s1", "s2"]):
        src = next(
            p for p in (tmp_path / stage).iterdir() if p.suffix == ".parquet"
        )
        dst = inp / f"file{i}.parquet"
        shutil.copy(src, dst)
        os.utime(dst, (time.time() + i, time.time() + i))

    out, ckpt, reg = (
        str(tmp_path / "dout"), str(tmp_path / "dckpt"), str(tmp_path / "dreg")
    )
    q = stream_dedup(spark, str(inp), out, ckpt, reg, available_now=True)
    q.awaitTermination(300)

    got = spark.read.parquet(out)
    got_ids = {r["doc_id"] for r in got.select("doc_id").collect()}
    # batch twin on the full union
    full = docs.unionByName(dups).unionByName(extra)
    keepers = {
        r["keep_doc_id"]
        for r in dedup.exact_duplicates(full).select("keep_doc_id").collect()
    }
    assert got_ids == keepers  # all originals + the new doc, no copies
    assert 2_000_000 in got_ids and 1_000_000 not in got_ids

    # restart with a THIRD file of late duplicates (of file1 docs) and
    # one genuinely new doc — only the new doc may pass the registry
    late = (
        docs.filter(F.col("doc_id") % 7 == 0)
        .withColumn("doc_id", F.col("doc_id") + 3_000_000)
    )
    new2 = docs.limit(1).withColumn("doc_id", F.lit(4_000_000)).withColumn(
        "text", F.lit("another unseen document after restart")
    )
    late.unionByName(new2).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "s3")
    )
    src = next(
        p for p in (tmp_path / "s3").iterdir() if p.suffix == ".parquet"
    )
    shutil.copy(src, inp / "file2.parquet")
    q2 = stream_dedup(spark, str(inp), out, ckpt, reg, available_now=True)
    q2.awaitTermination(300)
    got2 = {r["doc_id"] for r in
            spark.read.parquet(out).select("doc_id").collect()}
    assert got2 == got_ids | {4_000_000}


def test_stream_incremental_extract_cdc_parity_and_skip(spark, tmp_path):
    """Streaming CDC extraction: (1) a re-crawl snapshot re-extracts
    EXACTLY the batch twin's refreshed set (added + genuinely revised
    docs), (2) re-delivering an unchanged corpus extracts zero
    documents (the registry anti-join), and (3) the current-snapshot
    view recovered from the output is bit-identical to the batch
    incremental result."""
    import os
    import time

    from blackedge_ocr_spark.analysis.corpusops import snapshot_views
    from blackedge_ocr_spark.datagen import spansify_frame
    from blackedge_ocr_spark.incremental import (
        SRC_HASH_COL,
        incremental_extract,
        with_src_hash,
    )
    from blackedge_ocr_spark.pipeline import extract_documents
    from blackedge_ocr_spark.streaming import stream_incremental_extract

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    a, b = snapshot_views(docs)
    inp = tmp_path / "iin"
    inp.mkdir()
    # arrival order: snapshot A, snapshot B, then B re-delivered
    for i, df in enumerate([a, b, b]):
        d = tmp_path / f"snap{i}"
        df.coalesce(1).write.mode("overwrite").parquet(str(d))
        src = next(p for p in d.iterdir() if p.suffix == ".parquet")
        dst = inp / f"file{i}.parquet"
        shutil.copy(src, dst)
        os.utime(dst, (time.time() + i, time.time() + i))

    out, ckpt, reg = (
        str(tmp_path / "iout"),
        str(tmp_path / "ickpt"),
        str(tmp_path / "ireg"),
    )
    q = stream_incremental_extract(
        spark, str(inp), out, ckpt, reg, available_now=True
    )
    q.awaitTermination(300)
    got = spark.read.parquet(out)

    transform = lambda d: extract_documents(d, query_col="query")
    prev = incremental_extract(spansify_frame(a), transform)
    inc = incremental_extract(spansify_frame(b), transform, prev=prev)

    b1 = {
        r["doc_id"]
        for r in got.filter(F.col("batch_id") == 1).select("doc_id").collect()
    }
    refreshed = {
        r["doc_id"] for r in inc.filter("refreshed").select("doc_id").collect()
    }
    assert b1 == refreshed and len(b1) > 0

    assert got.filter(F.col("batch_id") == 2).count() == 0

    keys = with_src_hash(spansify_frame(b)).select("doc_id", SRC_HASH_COL)
    view = got.join(keys, ["doc_id", SRC_HASH_COL], "left_semi")
    assert view.count() == b.count()
    sview = {
        r["doc_id"]: r["c"]
        for r in view.select("doc_id", F.md5("content").alias("c")).collect()
    }
    sbatch = {
        r["doc_id"]: r["c"]
        for r in inc.select("doc_id", F.md5("content").alias("c")).collect()
    }
    assert sview == sbatch


def test_doc_bundle_error_row_gets_error_envelope(spark):
    """workflow-NULL rows must produce the S11 error archive, not a
    success-shaped bundle around null metadata."""
    import json as _json

    from blackedge_ocr_spark.pipeline import extract_documents
    from blackedge_ocr_spark.sinks import doc_bundle

    schema = (
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>, query string, explicit_workflow string"
    )
    df = spark.createDataFrame(
        [("e1", [("text", "plenty of text in this span", "", 0)],
          "", "not_a_workflow")], schema,
    )
    result = extract_documents(
        df, query_col="query", explicit_col="explicit_workflow"
    )
    files = doc_bundle(result, "e1")
    assert set(files) == {"error.json"}
    assert _json.loads(files["error.json"]) == {
        "status": "error", "error": "Unknown workflow type",
    }


def test_stream_dedup_bloom_gate_is_output_identical(spark, tmp_path):
    """The Bloom-fronted registry (bloom_dir) must not change the
    survivor set — FPs route through the exact check, misses are
    definitely new — while maintaining a bounded (row, slot) table
    that every registered hash hits (no false negatives)."""
    import os
    import time

    from blackedge_ocr_spark.analysis import dedup
    from blackedge_ocr_spark.analysis.sketches import (
        BLOOM_DEPTH,
        BLOOM_GATE_HEX,
        _bloom_slot,
    )
    from blackedge_ocr_spark.streaming import stream_dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    dups = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
    )
    extra = docs.limit(1).withColumn("doc_id", F.lit(2_000_000)).withColumn(
        "text", F.lit("a fresh bloom gated document")
    )
    inp = tmp_path / "bin"
    inp.mkdir()
    docs.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "b1"))
    dups.unionByName(extra).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "b2")
    )
    for i, stage in enumerate(["b1", "b2"]):
        src = next(
            p for p in (tmp_path / stage).iterdir() if p.suffix == ".parquet"
        )
        dst = inp / f"file{i}.parquet"
        shutil.copy(src, dst)
        os.utime(dst, (time.time() + i, time.time() + i))

    out, ckpt, reg, blm = (
        str(tmp_path / "bout"), str(tmp_path / "bckpt"),
        str(tmp_path / "breg"), str(tmp_path / "bbloom"),
    )
    q = stream_dedup(
        spark, str(inp), out, ckpt, reg, available_now=True, bloom_dir=blm
    )
    q.awaitTermination(300)

    got_ids = {
        r["doc_id"]
        for r in spark.read.parquet(out).select("doc_id").collect()
    }
    full = docs.unionByName(dups).unionByName(extra)
    keepers = {
        r["keep_doc_id"]
        for r in dedup.exact_duplicates(full).select("keep_doc_id").collect()
    }
    assert got_ids == keepers
    # bloom table: bounded shape, and NO false negative — every
    # registered hash probes to all-rows-present
    bits = spark.read.parquet(blm).distinct()
    n_hashes = spark.read.parquet(reg).distinct().count()
    assert bits.count() <= BLOOM_DEPTH * n_hashes
    assert {r["row"] for r in bits.select("row").distinct().collect()} == set(
        range(BLOOM_DEPTH)
    )
    reg_df = spark.read.parquet(reg)
    for i in range(BLOOM_DEPTH):
        missing = (
            reg_df.withColumn(
                "slot", _bloom_slot(F.col("content_hash"), i, BLOOM_GATE_HEX)
            )
            .withColumn("row", F.lit(i))
            .join(bits, ["row", "slot"], "left_anti")
            .count()
        )
        assert missing == 0
