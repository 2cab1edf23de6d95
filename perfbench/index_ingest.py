"""Workload ``index_ingest``: the upload and indexing write path.

Each operation ingests one seed-generated upload batch into a fresh
store: the validated document write, XML and waveform parsing, the
index writes, then a re-upload of changed catalogs and an upsert of
their index rows. Parsed rows are cached and counted before they are
written, so parse time and write time are separate steps.

Checks: the store is read back and compared with the generator's
ground truth: stored documents per type, the rejected count, the event
IDs of every catalog after the upsert, the channel rows and the
waveform trace rows.
"""

from __future__ import annotations

import inputs


class IndexIngest:
    name = "index_ingest"
    block = 1
    min_ops = 2
    min_ops_traced = 3  # untraced, traced, untraced: a drift cancels

    def __init__(self, ctx):
        self.ctx = ctx
        s = ctx.scale
        self.sizes = {"n_quakeml": max(4, int(24 * s)), "n_stationxml": max(4, int(12 * s)),
                      "n_waveform": max(2, int(16 * s)), "events_per_doc": 40}

    def setup(self, rep: int) -> None:
        self.batch = inputs.upload_batch(self.ctx.seed, self.ctx.path(f"setup{rep}/batch"),
                                         **self.sizes)
        self.input_bytes = self.batch["payload_bytes"]

    def warmup(self) -> None:
        self.ingest(self.ctx.path("warmup-store"))

    def traced_op(self, i: int) -> bool:
        """Traced runs alternate traced and untraced operations."""
        return i % 2 == 1

    def op(self, i: int) -> dict:
        root = self.ctx.path(f"store{i}")
        rejected = self.ingest(root)
        stored = self.ctx.tree_bytes(root)
        return {"kind": "ingest", "root": root, "rejected": rejected,
                "items": self.batch["n_documents"] + self.batch["n_files"],
                "payload_bytes": self.input_bytes, "stored_bytes": stored}

    def ingest(self, root: str) -> int:
        from pyspark.sql import functions as F

        from jane_spark.sources.index_store import IndexStore
        from jane_spark.sources.ingest import parse_waveform_files, scan_files
        from jane_spark.sources.validation import write_documents_validated
        from jane_spark.sources.xml_ingest import (
            parse_quakeml_events,
            parse_stationxml_channels,
        )

        spark, tr, b = self.ctx.spark, self.ctx.tracer, self.batch
        store = IndexStore(spark, root)
        with tr.span("sources.validate"):
            rejected = sum(
                write_documents_validated(store, spark.read.parquet(b[t]), t).count()
                for t in ("quakeml", "stationxml"))

        def doc_id_of(df):
            # the catalog number is encoded in every event ID the batch made
            return df.withColumn("doc_id", F.regexp_extract(
                "quakeml_id", r"/up(\d+)r?/", 1).cast("long"))

        with tr.span("sources.parse_xml"):
            events = doc_id_of(parse_quakeml_events(store.documents("quakeml"))).cache()
            channels = parse_stationxml_channels(store.documents("stationxml")).cache()
            events.count()
            channels.count()
        with tr.span("sources.parse_waveform"):
            traces = parse_waveform_files(scan_files(spark, b["wave_glob"])).cache()
            traces.count()
        with tr.span("sources.write"):
            store.write_index("quakeml", events, ["doc_id"], ["origin_time"])
            store.write_index("stationxml", channels, ["network"], ["station", "channel"])
            store.write_index("trace", traces, ["network"], ["station", "start_us"])
        for df in (events, channels, traces):
            df.unpersist()
        with tr.span("sources.upsert"):
            changed = spark.read.parquet(b["reupload"])
            rejected += write_documents_validated(store, changed, "quakeml").count()
            store.upsert_index_for_documents(
                "quakeml", doc_id_of(parse_quakeml_events(changed)))
        return rejected

    # ------------------------------------------------------------ checks

    def check(self, rec: dict) -> str | None:
        import duckdb

        b, root = self.batch, rec["root"]
        if rec["rejected"] != b["rejected"]:
            return f"rejected {rec['rejected']} documents, expected {b['rejected']}"
        con = duckdb.connect()
        try:
            def q(sql):
                return con.execute(sql).fetchall()

            n_docs = q(f"SELECT count(*) FROM read_parquet('{root}/documents/*/*.parquet')")[0][0]
            want = b["n_documents"] - b["rejected"]
            if n_docs != want:
                return f"{n_docs} stored documents, expected {want}"
            got: dict = {}
            for doc, qid in q("SELECT doc_id, quakeml_id FROM read_parquet("
                              f"'{root}/index/quakeml/*/*.parquet', hive_partitioning=true)"):
                got.setdefault(int(doc), []).append(qid)
            got = {d: sorted(v) for d, v in got.items()}
            if got != b["events"]:
                bad = sorted(d for d in set(got) | set(b["events"])
                             if got.get(d) != b["events"].get(d))
                return f"event index differs from ground truth at catalogs {bad[:3]}"
            chans = sorted(tuple(r) for r in q(
                "SELECT network, station, location, channel FROM read_parquet("
                f"'{root}/index/stationxml/*/*.parquet', hive_partitioning=true)"))
            if chans != b["channels"]:
                return f"{len(chans)} channel rows, expected {len(b['channels'])}"
            traces = sorted(tuple(r) for r in q(
                "SELECT network, station, location, channel, npts, sampling_rate "
                f"FROM read_parquet('{root}/index/trace/*/*.parquet', hive_partitioning=true)"))
            if traces != b["traces"]:
                return f"{len(traces)} trace rows, expected {len(b['traces'])}"
        finally:
            con.close()
        return None

    def close(self) -> None:
        pass
