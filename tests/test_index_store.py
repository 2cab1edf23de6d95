"""Index-store + ingest-sync tests (SURVEY.md P3/P4): document
versioning/dedup, typed index upsert, filesystem delta detection."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from jane_spark.sources.index_store import IndexStore
from jane_spark.sources.ingest import delta_files, deleted_files
from jane_spark.testing.fixtures import fs_snapshots


def _t(s):
    return dt.datetime.fromisoformat(s)


@pytest.fixture()
def store(spark, tmp_path):
    return IndexStore(spark, str(tmp_path / "store"))


DOC_COLS = ["doc_id", "doc_type", "name", "content_type", "data", "created_at", "version"]


def test_document_versioning_and_sha_dedup(spark, store):
    docs = spark.createDataFrame(
        [
            ("d1", "stationxml", "bw.xml", "text/xml", b"<v1/>", _t("2023-01-01T00:00:00"), 1),
            ("d2", "stationxml", "bw.xml", "text/xml", b"<v2/>", _t("2023-02-01T00:00:00"), 2),
            # re-upload of v2 bytes (same sha1) — must collapse (I6)
            ("d3", "stationxml", "bw.xml", "text/xml", b"<v2/>", _t("2023-03-01T00:00:00"), 3),
            ("d4", "quakeml", "cat.xml", "text/xml", b"<q/>", _t("2023-01-01T00:00:00"), 1),
        ],
        DOC_COLS,
    )
    store.write_documents(docs)
    stored = store.documents("stationxml")
    assert stored.count() == 3
    assert {r["sha1"] for r in stored.collect()} != set()  # computed on write
    latest = store.latest_documents("stationxml").collect()
    assert len(latest) == 1
    assert latest[0]["doc_id"] in ("d2", "d3")  # same content either way
    assert latest[0]["filesize"] == 5


def test_index_upsert_replaces_per_document(spark, store):
    rows_v1 = spark.createDataFrame(
        [("d1", "BW", 1.0), ("d1", "BW", 2.0), ("d2", "GR", 3.0)],
        ["doc_id", "network", "val"],
    )
    store.upsert_index_for_documents("stationxml", rows_v1)
    assert store.index("stationxml").count() == 3

    # reindex d1 only: its old rows must vanish, d2 untouched (I7)
    rows_v2 = spark.createDataFrame([("d1", "BW", 9.0)], ["doc_id", "network", "val"])
    store.upsert_index_for_documents("stationxml", rows_v2)
    got = {(r["doc_id"], r["val"]) for r in store.index("stationxml").collect()}
    assert got == {("d1", 9.0), ("d2", 3.0)}


def test_upsert_ignores_static_session_overwrite_mode(spark, store):
    """The upsert's dynamic partition overwrite is set on its own
    writer: a session conf reset to ``static`` after the store is built
    must not turn it into a whole-table overwrite."""
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    rows = spark.createDataFrame(
        [("d1", 1.0), ("d2", 2.0), ("d3", 3.0)], ["doc_id", "val"]
    )
    store.upsert_index_for_documents("doc", rows)
    spark.conf.set(key, "static")
    try:
        store.upsert_index_for_documents(
            "doc", spark.createDataFrame([("d2", 9.0)], ["doc_id", "val"])
        )
    finally:
        spark.conf.set(key, before)
    got = {(r["doc_id"], r["val"]) for r in store.index("doc").collect()}
    assert got == {("d1", 1.0), ("d2", 9.0), ("d3", 3.0)}


def _read_jobs(spark, read, group):
    """Job ids launched while ``read()`` opens a table (no action)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        read()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_index_reopen_launches_no_schema_job(spark, store):
    """Only a store's first open of a table infers the Parquet schema
    (one Spark job); every later open reuses it and launches none."""
    rows = spark.createDataFrame(
        [("BW", "ALTM", 1.0), ("GR", "FUR", 2.0)], ["network", "station", "val"]
    )
    store.write_index("trace", rows, partition_cols=["network"])
    assert _read_jobs(spark, lambda: store.index("trace"), "index_open_first")
    assert _read_jobs(spark, lambda: store.index("trace"), "index_open_again") == []
    store.write_documents(spark.createDataFrame(
        [("d1", "quakeml", "a.xml", "text/xml", b"<q/>", _t("2023-01-01T00:00:00"), 1)],
        DOC_COLS,
    ))
    store.documents()
    assert _read_jobs(spark, lambda: store.documents("quakeml"), "docs_open_again") == []


def test_index_reads_see_the_stores_own_writes(spark, store):
    """Each of the store's writes drops the table's known schema: an
    appended partition, an upsert and an overwrite that adds a column
    all show up in the next read, rows and schema."""
    t = "trace"
    store.write_index(t, spark.createDataFrame([("BW", 1.0)], ["network", "val"]), ["network"])
    assert store.index(t).count() == 1
    store.write_index(t, spark.createDataFrame([("GR", 2.0)], ["network", "val"]), ["network"])
    assert {(r["network"], r["val"]) for r in store.index(t).collect()} == {
        ("BW", 1.0), ("GR", 2.0)
    }

    store.upsert_index_for_documents(
        "doc", spark.createDataFrame([("d1", 1.0), ("d2", 2.0)], ["doc_id", "val"])
    )
    assert store.index("doc").count() == 2
    store.upsert_index_for_documents(
        "doc", spark.createDataFrame([("d3", 3.0)], ["doc_id", "val"])
    )
    assert {r["doc_id"] for r in store.index("doc").collect()} == {"d1", "d2", "d3"}

    wider = spark.createDataFrame([("NZ", 5.0, "x")], ["network", "val", "extra"])
    store.write_index(t, wider, ["network"], mode="overwrite")
    back = store.index(t)
    assert "extra" in back.columns
    assert [tuple(r) for r in back.select("network", "val", "extra").collect()] == [
        ("NZ", 5.0, "x")
    ]


def test_index_reads_see_files_written_outside_the_store(spark, store):
    """Only the schema is reused: the file listing is fresh on every
    read, so Parquet files another writer appends to the table
    directory show up in the next ``index()``."""
    store.write_index(
        "trace", spark.createDataFrame([("BW", 1.0)], ["network", "val"]), ["network"]
    )
    assert store.index("trace").count() == 1
    spark.createDataFrame([("GR", 2.0)], ["network", "val"]).write.partitionBy(
        "network"
    ).mode("append").parquet(f"{store.root}/index/trace")
    spark.createDataFrame([(3.0,)], ["val"]).write.mode("append").parquet(
        f"{store.root}/index/trace/network=NZ"
    )
    assert {(r["network"], r["val"]) for r in store.index("trace").collect()} == {
        ("BW", 1.0), ("GR", 2.0), ("NZ", 3.0)
    }


def test_fs_delta_and_deletions(spark):
    before, after = fs_snapshots(spark)
    changed = {r["path"] for r in delta_files(after, before).collect()}
    assert changed == {"/data/f2.mseed", "/data/f4.mseed"}  # touched + new
    gone = {r["path"] for r in deleted_files(after, before).collect()}
    assert gone == {"/data/f3.mseed"}


def test_index_partition_pruning(spark, store):
    """The partition layout must actually prune: filter on the partition
    key reads only that partition's files (PartitionFilters in plan)."""
    rows = spark.createDataFrame(
        [("BW", 2023, "ALTM", 1.0), ("GR", 2023, "FUR", 2.0), ("BW", 2024, "MANZ", 3.0)],
        ["network", "year", "station", "val"],
    )
    store.write_index("trace", rows, partition_cols=["network", "year"],
                      sort_cols=["station"])
    scan = store.index("trace").filter((F.col("network") == "BW") & (F.col("year") == 2023))
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "network" in plan.split("PartitionFilters")[1][:200]
    assert scan.collect()[0]["station"] == "ALTM"


def test_export_corpus_layout_and_counts(spark, sf_dir, tmp_path):
    """Export writes hive partitions split=*/lang=*, at most `shards`
    files per partition, read-back totals equal input, and a re-export
    (overwrite) is byte-stable on counts."""
    from pyspark.sql import functions as F

    from jane_spark.engine.catalog import Catalog
    from jane_spark.functions.sampling import split_assign
    from jane_spark.sources.corpus_export import export_corpus, export_manifest

    docs = Catalog(spark, sf_dir).documents.select(
        "doc_id",
        "text",
        "lang",
        split_assign(
            F.col("doc_id"), {"train": 0.8, "val": 0.1, "test": 0.1}, salt="split:"
        ).alias("split"),
    )
    out = str(tmp_path / "corpus")
    export_corpus(docs, out, ("split", "lang"), shards=2, shard_key="doc_id")

    m = export_manifest(spark, out, ("split", "lang")).collect()
    assert sum(r["n_rows"] for r in m) == docs.count()
    assert all(r["n_files"] <= 2 for r in m)
    assert {r["split"] for r in m} <= {"train", "val", "test"}

    back = spark.read.parquet(out)
    assert set(back.columns) == {"doc_id", "text", "lang", "split"}
    assert back.select("doc_id").distinct().count() == docs.count()

    export_corpus(docs, out, ("split", "lang"), shards=2, shard_key="doc_id")
    m2 = export_manifest(spark, out, ("split", "lang")).collect()
    assert sorted(map(tuple, m)) == sorted(map(tuple, m2))


def test_webdataset_round_trip(spark, tmp_path):
    import io
    import tarfile

    from jane_spark.sources.corpus_export import webdataset_shards, write_webdataset

    rows = [
        (f"{i:04d}", f"text {i}", bytes([i % 256, 255 - i % 256]))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "key string, text string, payload binary")
    shards = webdataset_shards(
        df, "key", {"txt": "text", "bin": "payload"}, n_shards=4
    ).collect()
    assert sum(r.n_samples for r in shards) == 40
    assert len(shards) <= 4
    seen = {}
    for r in shards:
        with tarfile.open(fileobj=io.BytesIO(bytes(r.tar))) as tf:
            names = tf.getnames()
            # each sample contributes key.txt then key.bin, keys sorted
            keys = [n[:-4] for n in names[::2]]
            assert keys == sorted(keys)
            for n in names:
                data = tf.extractfile(n).read()
                seen[n] = data
    for key, text, payload in rows:
        assert seen[f"{key}.txt"] == text.encode()
        assert seen[f"{key}.bin"] == payload
    # write side: files land on disk and re-open as valid archives
    shards_df = webdataset_shards(
        df, "key", {"txt": "text", "bin": "payload"}, n_shards=4
    )
    n = write_webdataset(shards_df, str(tmp_path / "wds"))
    files = sorted((tmp_path / "wds").glob("shard-*.tar"))
    assert len(files) == n
    with tarfile.open(files[0]) as tf:
        assert tf.getnames()


def test_webdataset_deterministic_across_layout(spark):
    from jane_spark.sources.corpus_export import webdataset_shards

    rows = [(f"{i:04d}", f"body {i} " * 5) for i in range(60)]
    df = spark.createDataFrame(rows, "key string, text string")
    a = {
        r.shard_id: bytes(r.tar)
        for r in webdataset_shards(df, "key", {"txt": "text"}, 5).collect()
    }
    b = {
        r.shard_id: bytes(r.tar)
        for r in webdataset_shards(
            df.repartition(13).sortWithinPartitions(F.desc("key")),
            "key",
            {"txt": "text"},
            5,
        ).collect()
    }
    assert a == b  # byte-identical archives regardless of input layout


def test_webdataset_null_member_skipped(spark):
    import io
    import tarfile

    from jane_spark.sources.corpus_export import webdataset_shards

    df = spark.createDataFrame(
        [("a", "hello", None), ("b", "world", "m")],
        "key string, text string, meta string",
    )
    shards = webdataset_shards(df, "key", {"txt": "text", "json": "meta"}, 1).collect()
    with tarfile.open(fileobj=io.BytesIO(bytes(shards[0].tar))) as tf:
        assert tf.getnames() == ["a.txt", "b.txt", "b.json"]


def test_webdataset_write_read_loop(spark, tmp_path):
    """Sink → files → source: read_webdataset over written shards
    reproduces every sample and member byte-for-byte."""
    from jane_spark.sources.corpus_export import (
        read_webdataset,
        webdataset_shards,
        write_webdataset,
    )

    rows = [(f"{i:04d}", f"text {i}", bytes([i % 251])) for i in range(30)]
    df = spark.createDataFrame(rows, "key string, text string, payload binary")
    out = str(tmp_path / "loop")
    write_webdataset(
        webdataset_shards(df, "key", {"txt": "text", "bin": "payload"}, 3), out
    )
    back = read_webdataset(
        spark, out, {"txt": "doc_text", "bin": "doc_payload"}
    ).collect()
    assert len(back) == 30
    by_key = {r.key: r for r in back}
    for key, text, payload in rows:
        assert bytes(by_key[key].doc_text) == text.encode()
        assert bytes(by_key[key].doc_payload) == payload


def test_webdataset_reader_missing_member_null(spark, tmp_path):
    from jane_spark.sources.corpus_export import (
        read_webdataset,
        webdataset_shards,
        write_webdataset,
    )

    df = spark.createDataFrame(
        [("a", "t", None), ("b", "u", "m")], "key string, text string, meta string"
    )
    out = str(tmp_path / "nulls")
    write_webdataset(
        webdataset_shards(df, "key", {"txt": "text", "json": "meta"}, 1), out
    )
    back = {r.key: r for r in read_webdataset(spark, out, {"txt": "t", "json": "j"}).collect()}
    assert back["a"].j is None
    assert bytes(back["b"].j) == b"m"


def test_webdataset_reader_ignores_non_tar_files(spark, tmp_path):
    from jane_spark.sources.corpus_export import (
        read_webdataset,
        webdataset_shards,
        write_webdataset,
    )

    df = spark.createDataFrame([("k", "v")], "key string, text string")
    out = str(tmp_path / "mixed")
    write_webdataset(webdataset_shards(df, "key", {"txt": "text"}, 1), out)
    (tmp_path / "mixed" / "_SUCCESS").write_text("")
    (tmp_path / "mixed" / "manifest.json").write_text("{}")
    back = read_webdataset(spark, out, {"txt": "t"}).collect()
    assert len(back) == 1 and bytes(back[0].t) == b"v"


def test_chunk_to_webdataset_rag_chain(spark, tmp_path):
    """Composition: documents -> overlapping token chunks -> WebDataset
    shards -> read back. The RAG store-prep chain end to end; chunk
    keys are (doc, idx) so the loader can reassemble provenance."""
    from jane_spark.functions.text import chunk_tokens
    from jane_spark.sources.corpus_export import (
        read_webdataset,
        webdataset_shards,
        write_webdataset,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(f"d{i}w{j}" for j in range(23))) for i in range(9)],
        "doc_id long, text string",
    )
    chunks = docs.select(
        "doc_id", F.explode(chunk_tokens(F.col("text"), 8, overlap=2)).alias("c")
    ).select(
        F.concat_ws(
            "/", F.col("doc_id"), F.lpad(F.col("c.chunk_idx"), 4, "0")
        ).alias("key"),
        F.col("c.chunk").alias("chunk"),
    )
    n_chunks = chunks.count()
    out = str(tmp_path / "rag")
    write_webdataset(webdataset_shards(chunks, "key", {"txt": "chunk"}, 3), out)
    back = read_webdataset(spark, out, {"txt": "chunk"}).collect()
    assert len(back) == n_chunks
    # provenance keys reassemble: every doc contributes ceil((23-2)/6)=4 chunks
    by_doc = {}
    for r in back:
        doc, idx = r.key.split("/")
        by_doc.setdefault(int(doc), []).append(int(idx))
    assert set(by_doc) == set(range(9))
    assert all(sorted(v) == [0, 1, 2, 3] for v in by_doc.values())
    # chunk text round-trips
    sample = next(r for r in back if r.key == "0/0000")
    assert bytes(sample.chunk).decode() == " ".join(f"d0w{j}" for j in range(8))


def test_webdataset_duplicate_keys_raise(spark):
    """ADVICE r6: duplicate sample keys would collide on '<key>.<ext>'
    tar member names and vanish under a reader's last-wins grouping —
    the writer must refuse loudly, naming the offending keys."""
    import pytest as _pytest

    from jane_spark.sources.corpus_export import webdataset_shards

    df = spark.createDataFrame(
        [("a", "one"), ("b", "two"), ("a", "three")], "k string, txt string"
    )
    shards = webdataset_shards(df, "k", {"txt": "txt"}, n_shards=1)
    with _pytest.raises(Exception, match="duplicate sample keys"):
        shards.collect()
    # unique keys still pack fine
    ok = webdataset_shards(
        df.filter(F.col("txt") != "three"), "k", {"txt": "txt"}, n_shards=1
    ).collect()
    assert sum(r["n_samples"] for r in ok) == 2


# ------------------------------------------------------------- WARC


def test_warc_file_source_round_trip(spark, tmp_path):
    """read_warc over real archive files: plain + member-gzip archives
    side by side, one row per record, glob filtering, CDX byte ranges
    that re-fetch standalone."""
    from jane_spark.sources.warc import encode_warc, parse_warc, read_warc

    recs_a = [
        {"warc_type": "warcinfo", "content": "software: jane_spark\r\n"},
        {"warc_type": "response", "target_uri": "https://a.example/1",
         "content": b"HTTP/1.1 200 OK\r\n\r\nbody-a1"},
    ]
    recs_b = [
        {"warc_type": "response", "target_uri": "https://b.example/1",
         "content": b"HTTP/1.1 404 Not Found\r\n\r\nmissing"},
        {"warc_type": "resource", "target_uri": "https://b.example/2",
         "content": b"\x00\x01\x02raw"},
    ]
    (tmp_path / "a.warc").write_bytes(encode_warc(recs_a))
    (tmp_path / "b.warc.gz").write_bytes(encode_warc(recs_b, gzip_members=True))
    (tmp_path / "_SUCCESS").write_bytes(b"")  # must be ignored by glob

    df = read_warc(spark, str(tmp_path))
    rows = sorted(df.collect(), key=lambda r: (r["archive"], r["offset"]))
    assert len(rows) == 4
    by_uri = {r["target_uri"]: r for r in rows if r["target_uri"]}
    assert by_uri["https://b.example/2"]["content_length"] == 6
    assert bytes(by_uri["https://b.example/2"]["content"]) == b"\x00\x01\x02raw"
    assert {r["warc_type"] for r in rows} == {"warcinfo", "response", "resource"}

    # CDX contract: (archive, offset, length) byte-range re-parses
    gz = (tmp_path / "b.warc.gz").read_bytes()
    r = by_uri["https://b.example/1"]
    (sub,) = parse_warc(gz[r["offset"] : r["offset"] + r["length"]])
    assert sub["target_uri"] == "https://b.example/1"


def test_warc_torn_archive_raises(spark):
    """Framing errors fail loudly — a shifted parse would yield garbage
    records silently attributed to real URIs."""
    import pytest as _pytest

    from jane_spark.sources.warc import encode_warc, parse_warc

    good = encode_warc(
        [{"warc_type": "resource", "target_uri": "u", "content": b"xyz"}]
    )
    with _pytest.raises(ValueError, match="trailer|truncated"):
        parse_warc(good[:-3])
    with _pytest.raises(ValueError, match="WARC version"):
        parse_warc(b"HTTP/1.1 200 OK\r\n\r\n")
    # header continuation lines fold per the spec
    folded = good.replace(
        b"WARC-Target-URI: u\r\n", b"WARC-Target-URI: u\r\n\t folded\r\n"
    )
    (rec,) = parse_warc(folded)
    assert rec["target_uri"] == "u folded"


def test_warc_http_payload_total():
    from jane_spark.sources.warc import http_payload

    assert http_payload(b"not http at all") == (None, b"not http at all")
    assert http_payload(b"HTTP/1.1 200 OK\r\nX: 1\r\n\r\nBB") == (200, b"BB")
    assert http_payload(b"HTTP/1.1 nope\r\n\r\nB") == (None, b"HTTP/1.1 nope\r\n\r\nB")


def test_warc_cdx_range_fetch(spark, tmp_path):
    """The CDX random-access path: read_warc's (archive, offset,
    length) rows re-fetch exactly their records by byte range — same
    content as the full scan — and a missing archive degrades to an
    error row instead of killing the stage."""
    from jane_spark.sources.warc import encode_warc, fetch_warc_ranges, read_warc

    recs = [
        {"warc_type": "response", "target_uri": f"https://e.example/{i}",
         "content": f"HTTP/1.1 200 OK\r\n\r\nbody-{i}".encode()}
        for i in range(6)
    ]
    (tmp_path / "a.warc.gz").write_bytes(encode_warc(recs[:3], gzip_members=True))
    (tmp_path / "b.warc.gz").write_bytes(encode_warc(recs[3:], gzip_members=True))

    full = read_warc(spark, str(tmp_path))
    want = full.filter(F.col("target_uri").endswith("2") | F.col("target_uri").endswith("4"))
    fetched = fetch_warc_ranges(want.select("archive", "offset", "length"))
    got = sorted(
        (r["target_uri"], bytes(r["content"])) for r in fetched.collect()
    )
    exp = sorted(
        (r["target_uri"], bytes(r["content"])) for r in want.collect()
    )
    assert got == exp and len(got) == 2

    bad = spark.createDataFrame(
        [(str(tmp_path / "missing.warc.gz"), 0, 10)],
        "archive string, offset long, length long",
    )
    (err,) = fetch_warc_ranges(bad).collect()
    assert err["warc_type"] == "error" and "FileNotFoundError" in err["target_uri"]


def test_warc_truncated_gzip_member_raises():
    """zlib.error must never escape parse_warc — framing errors are
    ValueError everywhere (the fetch_warc_ranges error-row contract
    catches exactly OSError/ValueError)."""
    import pytest as _pytest

    from jane_spark.sources.warc import encode_warc, parse_warc

    data = encode_warc(
        [{"warc_type": "resource", "content": b"x" * 100}], gzip_members=True
    )
    with _pytest.raises(ValueError, match="gzip member"):
        parse_warc(data[:-5])


def test_warc_property_round_trip():
    """Hypothesis: arbitrary record lists (binary bodies incl. CRLF,
    0xFF, gzip magic; unicode URIs) survive encode->parse byte-exactly
    in both layouts, with CDX spans tiling the gz archive."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from jane_spark.sources.warc import encode_warc, parse_warc

    body = st.binary(min_size=0, max_size=200)
    uri = st.text(
        alphabet=st.characters(min_codepoint=33, max_codepoint=0x2FF),
        min_size=1, max_size=30,
    )
    rec = st.fixed_dictionaries(
        {"warc_type": st.sampled_from(["response", "resource", "metadata"]),
         "target_uri": uri, "content": body}
    )

    @settings(max_examples=60, deadline=None)
    @given(recs=st.lists(rec, min_size=1, max_size=6), gz=st.booleans())
    def run(recs, gz):
        data = encode_warc(recs, gzip_members=gz)
        out = parse_warc(data)
        assert [bytes(r["content"]) for r in out] == [r["content"] for r in recs]
        assert [r["warc_type"] for r in out] == [r["warc_type"] for r in recs]
        if gz:
            spans = [(r["offset"], r["length"]) for r in out]
            assert spans[0][0] == 0
            assert all(o1 + l1 == o2 for (o1, l1), (o2, _) in zip(spans, spans[1:]))
            assert spans[-1][0] + spans[-1][1] == len(data)

    run()


# ------------------------------------------------------ r8 validation gate


_VALID_QML = (
    b'<q:quakeml xmlns:q="http://quakeml.org/xmlns/quakeml/1.2">'
    b'<eventParameters publicID="p">'
    b'<event publicID="evt:1"><type>earthquake</type></event>'
    b"</eventParameters></q:quakeml>"
)
_VALID_SXML = (
    b'<FDSNStationXML xmlns="http://www.fdsn.org/xml/station/1" '
    b'schemaVersion="1.1"><Network code="BW"/></FDSNStationXML>'
)


def test_validation_gate_rejects_never_index(spark, store):
    """jane's ValidatorPluginPoint behavior: a malformed/ill-typed
    document is rejected with a reason and NEVER becomes a stored
    document; the quarantine lane is a DataFrame, not a log line."""
    from jane_spark.sources.validation import write_documents_validated

    docs = spark.createDataFrame(
        [
            ("d1", "quakeml", "ok.xml", "text/xml", _VALID_QML,
             _t("2023-01-01T00:00:00"), 1),
            ("d2", "quakeml", "trunc.xml", "text/xml", _VALID_QML[:30],
             _t("2023-01-01T00:00:00"), 1),
            ("d3", "quakeml", "station.xml", "text/xml", _VALID_SXML,
             _t("2023-01-01T00:00:00"), 1),  # wrong type for the lane
            ("d4", "quakeml", "noid.xml", "text/xml",
             b'<q:quakeml xmlns:q="http://quakeml.org/xmlns/quakeml/1.2">'
             b'<eventParameters publicID="p"><event/>'
             b"</eventParameters></q:quakeml>",
             _t("2023-01-01T00:00:00"), 1),
            ("d5", "quakeml", "latin1.xml", "text/xml",
             "<a>\xe9</a>".encode("latin-1"), _t("2023-01-01T00:00:00"), 1),
        ],
        DOC_COLS,
    )
    quarantine = write_documents_validated(store, docs, "quakeml")
    reasons = {r["doc_id"]: r["reject_reason"] for r in quarantine.collect()}
    assert reasons == {
        "d2": "malformed-xml",
        "d3": "wrong-root-element",
        "d4": "event-missing-publicID",
        "d5": "not-utf8",
    }
    stored = [r["doc_id"] for r in store.documents("quakeml").collect()]
    assert stored == ["d1"]  # the reject lane never reached the store


def test_validation_gate_stationxml_and_unknown_type(spark):
    import pytest as _pytest

    from jane_spark.sources.validation import validate_documents

    rows = [
        ("s1", _VALID_SXML),
        ("s2", b'<FDSNStationXML xmlns="x"></FDSNStationXML>'),
        ("s3", b'<FDSNStationXML xmlns="x"><Network/></FDSNStationXML>'),
        ("s4", b""),
    ]
    df = spark.createDataFrame(rows, "doc_id string, data binary")
    got = {
        r["doc_id"]: r["reject_reason"]
        for r in validate_documents(df, "stationxml").collect()
    }
    assert got == {
        "s1": None,
        "s2": "missing-Network",
        "s3": "network-missing-code",
        "s4": "empty-document",
    }
    with _pytest.raises(ValueError, match="no validator"):
        validate_documents(df, "seiscomp")


def test_xml_ingest_parsers_robustness(spark):
    """Parser edge cases the contract corpus lacks: an empty catalog
    yields 0 rows (not an error), entity unescaping round-trips, and a
    malformed document raises (the validation gate's job is to keep it
    out of this lane — composition pinned here)."""
    import pytest as _pytest

    from jane_spark.sources.validation import partition_documents
    from jane_spark.sources.xml_ingest import parse_quakeml_events

    ns = '<q:quakeml xmlns:q="http://quakeml.org/xmlns/quakeml/1.2">'
    ok = (
        ns + '<eventParameters publicID="c">'
        '<event publicID="e1"><origin>'
        "<time><value>2024-02-03T04:05:06.123456</value></time>"
        "<latitude><value>1.0</value></latitude>"
        "<longitude><value>2.0</value></longitude>"
        "<depth><value>3.0</value></depth></origin>"
        "<magnitude><mag><value>4.5</value></mag><type>Mw</type></magnitude>"
        "<type>a &amp; b</type></event>"
        "</eventParameters></q:quakeml>"
    )
    empty_cat = ns + '<eventParameters publicID="c"/></q:quakeml>'
    bad = ok[:60]
    df = spark.createDataFrame(
        [("d1", ok), ("d2", empty_cat), ("d3", bad)],
        "doc_id string, data string",
    )
    accepted, rejected = partition_documents(df, "quakeml")
    assert {r["doc_id"] for r in rejected.collect()} == {"d3"}
    rows = parse_quakeml_events(accepted).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["event_type"] == "a & b"          # unescaped
    assert r["magnitude"] == 4.5 and r["depth_in_m"] == 3.0
    assert str(r["origin_time"]) == "2024-02-03 04:05:06.123456"
    # an unvalidated malformed doc raises in the parser (loudly)
    with _pytest.raises(Exception):
        parse_quakeml_events(df.filter("doc_id = 'd3'")).collect()
