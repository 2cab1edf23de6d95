"""Workload ``fdsn_requests``: fresh FDSN and ``/rest/`` requests.

Each operation is one request, from param dict (or POST body) to
response bytes, against an index store built at set-up. Every request
re-opens the index through ``IndexStore``, builds a fresh DataFrame
and executes it once, as a jane server would for a new caller. The
kinds run in seed-shuffled blocks of one request each, so every kind
is equally represented; every parameter set is distinct.

Checks: result IDs are compared with a DuckDB query over the
benchmark's own generated Parquet (and ``match_row`` for the REST
search rows); XML and JSON bodies must parse and carry that many
elements.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import xml.etree.ElementTree as ET

import duckdb

import inputs

KINDS = ("event_text", "event_quakeml", "event_geojson", "station_xml",
         "dataselect_get", "dataselect_bulk", "availability", "rest_search",
         "rest_documents")
EVENT_ORDER = {
    "time": "origin_time DESC, quakeml_id",
    "time-asc": "origin_time, quakeml_id",
    "magnitude": "magnitude DESC, quakeml_id",
}
# Cold requests cost about half a second each here, so 100 of them per
# run (ten samples beyond p90) would not fit the benchmark's time budget
# (48 runs in under an hour, with room for a host that runs half as fast
# while other guests load it) next to the other workload.
MIN_REQUESTS = 4 * len(KINDS)
WARMUP_BLOCKS = 2


def _iso(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%S")


def _like(pattern: str) -> str:
    return pattern.replace("*", "%").replace("?", "_")


class FdsnRequests:
    name = "fdsn_requests"
    block = len(KINDS)  # the timed loop ends on a whole block of kinds

    def __init__(self, ctx):
        self.ctx = ctx
        # four blocks of all kinds; a small smoke-test scale still runs two
        self.min_ops = self.min_ops_traced = max(
            2 * len(KINDS), int(MIN_REQUESTS * min(1.0, ctx.scale)))
        if ctx.tracer.enabled:
            from jane_spark.services import fdsnws, rest_api

            for module, fn in ((fdsnws, "compile_params"), (rest_api, "compile_params"),
                               (rest_api, "parse_rest_params")):
                ctx.tracer.wrap(module, fn, "plans.compile")
        self.sizes = {"n_events": int(10_000 * ctx.scale),
                      "n_stations": max(6, int(60 * ctx.scale)),
                      "n_days": max(2, int(7 * ctx.scale))}
        self.store = None
        self.seen: set = set()

    # ------------------------------------------------------------ set-up

    def setup(self, rep: int) -> None:
        from jane_spark.sources.index_store import IndexStore

        ctx = self.ctx
        gen_dir = ctx.path(f"setup{rep}/gen")
        self.gen = inputs.index_tables(ctx.seed, gen_dir, **self.sizes)
        spark = ctx.spark
        store = IndexStore(spark, ctx.path(f"setup{rep}/store"))
        store.write_documents(spark.read.parquet(self.gen["documents"]))
        store.write_index("quakeml", spark.read.parquet(self.gen["events"]),
                          ["agency"], ["origin_time"])
        store.write_index("stationxml", spark.read.parquet(self.gen["channels"]),
                          ["network"], ["station", "location", "channel", "start_date"])
        store.write_index("trace", spark.read.parquet(self.gen["traces"]),
                          ["network"], ["station", "location", "channel", "starttime"])
        self.store = store
        self.input_bytes = sum(os.path.getsize(self.gen[t]) for t in
                               ("events", "channels", "traces", "documents"))
        self.stored_bytes = ctx.tree_bytes(store.root)
        self.rows = self.gen["rows"]
        self.stations = sorted({(n, s) for n, s in zip(self.rows["channels"]["network"],
                                                        self.rows["channels"]["station"])})
        self.rng = random.Random(ctx.seed * 1_000_003 + 17)
        self.kinds: list[str] = []
        self.db = duckdb.connect()
        for t in ("events", "channels", "traces", "documents"):
            self.db.execute(f"CREATE OR REPLACE VIEW {t} AS "
                            f"SELECT * FROM read_parquet('{self.gen[t]}')")

    def warmup(self) -> None:
        """Untimed blocks of every kind, with parameters drawn from a
        separate stream (never repeated by the timed requests): latency
        falls by a fifth over the first two blocks while the JVM compiles
        hot paths, and only a little after that."""
        keep = self.rng
        self.rng = random.Random(self.ctx.seed * 7 + 5)
        for _ in range(WARMUP_BLOCKS):
            for kind in KINDS:
                self.request(kind)
        self.rng = keep

    # ------------------------------------------------------------ requests

    def kind_at(self, i: int) -> str:
        """Request kinds come in seed-shuffled blocks of all kinds."""
        while len(self.kinds) <= i:
            block = list(KINDS)
            self.rng.shuffle(block)
            self.kinds += block
        return self.kinds[i]

    def traced_op(self, i: int) -> bool:
        """In a traced run each kind alternates traced and untraced from
        block to block, so both halves carry every kind, interleaved in
        time, and their gap is the tracing overhead."""
        return (i // len(KINDS) + KINDS.index(self.kind_at(i))) % 2 == 1

    def op(self, i: int) -> dict:
        return self.request(self.kind_at(i))

    def _params(self, kind: str) -> dict:
        r = self.rng
        t0 = dt.datetime(2015, 1, 1) + dt.timedelta(seconds=r.randrange(7 * 365 * 86400))
        net, sta = r.choice(self.stations)
        day = dt.datetime(2023, 1, 1) + dt.timedelta(
            seconds=r.randrange(self.sizes["n_days"] * 86400))
        if kind in ("event_text", "event_quakeml", "event_geojson"):
            p = {"starttime": _iso(t0),
                 "endtime": _iso(t0 + dt.timedelta(days=365)),
                 "minmagnitude": f"{r.uniform(2.0, 4.0):.1f}",
                 "orderby": {"event_text": "time", "event_quakeml": "magnitude",
                             "event_geojson": "time-asc"}[kind],
                 "limit": "200"}
            if kind == "event_geojson":
                lat = r.uniform(-60, 20)
                p.update(minlatitude=f"{lat:.2f}", maxlatitude=f"{lat + 50:.2f}")
            return p
        if kind == "station_xml":
            return {"network": net, "station": f"{sta[:3]}*",
                    "starttime": _iso(t0),
                    "level": r.choice(("channel", "response"))}
        if kind == "dataselect_get":
            return {"network": net, "station": sta, "channel": r.choice(("?H?", "*HZ")),
                    "starttime": _iso(day),
                    "endtime": _iso(day + dt.timedelta(hours=24))}
        if kind == "dataselect_bulk":
            lines = []
            for _ in range(4):
                n, s = r.choice(self.stations)
                d = dt.datetime(2023, 1, 1) + dt.timedelta(
                    seconds=r.randrange(self.sizes["n_days"] * 86400))
                lines.append(f"{n} {s} * {r.choice(('?HZ', '*'))} {_iso(d)} "
                             f"{_iso(d + dt.timedelta(hours=12))}")
            return {"body": "\n".join(lines)}
        if kind == "availability":
            return {"network": net, "station": f"{sta[:3]}*",
                    "starttime": _iso(day),
                    "endtime": _iso(day + dt.timedelta(days=2)),
                    "mergegaps": str(r.choice((0, 60, 600)))}
        if kind == "rest_search":
            return {"magnitude_type": r.choice(("M*", "ML,Mw", "mb")),
                    "min_magnitude": f"{r.uniform(4.0, 6.0):.1f}",
                    "min_origin_time": _iso(t0),
                    "ordering": r.choice(("-magnitude", "origin_time", "-depth_in_m")),
                    "limit": "50", "offset": str(r.randrange(0, 20))}
        if kind == "rest_documents":
            n_catalogs = self.sizes["n_events"] // 200
            return {"name": f"catalog_*{r.randrange(10)}.xml",
                    "min_created_at": _iso(dt.datetime(2015, 1, 1) + dt.timedelta(
                        days=r.randrange(max(1, n_catalogs // 2)))),
                    "ordering": r.choice(("-created_at", "name", "-version")),
                    "limit": "20"}
        raise KeyError(kind)

    def request(self, kind: str) -> dict:
        while True:
            params = self._params(kind)
            key = (kind, tuple(sorted(params.items())))
            if key not in self.seen:
                self.seen.add(key)
                break
        tr = self.ctx.tracer
        body, items = getattr(self, f"_{kind}")(params, tr)
        return {"kind": kind, "params": params, "body": body,
                "items": items, "payload_bytes": len(body)}

    # Each handler: open the index, build the DataFrame, serialize.

    def _event_text(self, params, tr):
        from jane_spark.services.fdsnws import event_query, event_text

        with tr.span("sources.index_open"):
            events = self.store.index("quakeml")
        with tr.span("services.build"):
            df = event_text(event_query(events, params))
        with tr.span("services.serialize"):
            lines = [r["line"] for r in df.collect()]
            body = "\n".join(lines).encode()
        return body, len(lines)

    def _event_quakeml(self, params, tr):
        from jane_spark.services.fdsnws import event_query, quakeml_document

        with tr.span("sources.index_open"):
            events = self.store.index("quakeml")
        with tr.span("services.build"):
            df = event_query(events, params)
        with tr.span("services.serialize"):
            body = quakeml_document(df).encode()
        return body, body.count(b"<event ")

    def _event_geojson(self, params, tr):
        from jane_spark.services.fdsnws import event_query, geojson_document

        with tr.span("sources.index_open"):
            events = self.store.index("quakeml")
        with tr.span("services.build"):
            df = event_query(events, params)
        with tr.span("services.serialize"):
            body = geojson_document(df).encode()
        return body, body.count(b'"Feature"')

    def _station_xml(self, params, tr):
        from jane_spark.services.fdsnws import station_query, stationxml_document

        with tr.span("sources.index_open"):
            channels = self.store.index("stationxml")
        with tr.span("services.build"):
            df = station_query(channels, params)
        with tr.span("services.serialize"):
            body = stationxml_document(df).encode()
        return body, body.count(b"<Channel ")

    @staticmethod
    def _trace_lines(rows) -> bytes:
        return "\n".join(
            f"{r['network']}.{r['station']}.{r['location']}.{r['channel']}|"
            f"{r['cut_start'].isoformat()}|{r['cut_end'].isoformat()}|"
            f"{r['file_id']}|{r['pos']}" for r in rows).encode()

    def _dataselect_get(self, params, tr):
        from jane_spark.services.fdsnws import dataselect_query

        with tr.span("sources.index_open"):
            traces = self.store.index("trace")
        with tr.span("services.build"):
            df = dataselect_query(traces, params)
        with tr.span("services.serialize"):
            rows = df.collect()
            body = self._trace_lines(rows)
        return body, len(rows)

    def _dataselect_bulk(self, params, tr):
        from jane_spark.services.fdsnws import dataselect_bulk_body

        with tr.span("sources.index_open"):
            traces = self.store.index("trace")
        with tr.span("services.build"):
            df = dataselect_bulk_body(self.ctx.spark, traces, params["body"])
        with tr.span("services.serialize"):
            rows = df.collect()
            body = self._trace_lines(rows)
        return body, len(rows)

    def _availability(self, params, tr):
        from jane_spark.services.fdsnws import availability_query

        with tr.span("sources.index_open"):
            traces = self.store.index("trace")
        with tr.span("services.build"):
            df = availability_query(traces, params)
        with tr.span("services.serialize"):
            rows = df.collect()
            body = "\n".join(
                f"{r['network']} {r['station']} {r['location']} {r['channel']} "
                f"{r['quality']} {r['sampling_rate']} {r['span_start'].isoformat()} "
                f"{r['span_end'].isoformat()} {r['n_segments']}" for r in rows).encode()
        return body, len(rows)

    def _rest_search(self, params, tr):
        from pyspark.sql import functions as F

        from jane_spark.plans.schema import QUAKEML_META
        from jane_spark.services.rest_api import index_search, serialize_indices

        with tr.span("sources.index_open"):
            idx = self.store.index("quakeml")
            docs = self.store.documents("quakeml")
        with tr.span("services.build"):
            page = index_search(idx, QUAKEML_META, params, "quakeml_id")
            df = serialize_indices(
                page, docs, None,
                [F.col(c) for c in ("quakeml_id", "magnitude", "magnitude_type",
                                    "origin_time", "depth_in_m")],
                "quakeml_id", "quakeml")
        with tr.span("services.serialize"):
            rows = df.collect()
            body = ("[" + ",".join(
                '{"id":%s,"payload":%s,"document":%s,"url":%s}' % (
                    json.dumps(r["id"]), r["payload"], json.dumps(r["document_name"]),
                    json.dumps(r["url"])) for r in rows) + "]").encode()
        return body, len(rows)

    def _rest_documents(self, params, tr):
        from pyspark.sql import functions as F

        from jane_spark.services.rest_api import document_list

        with tr.span("sources.index_open"):
            docs = self.store.documents("quakeml")
        with tr.span("services.build"):
            df = document_list(docs, params, inputs.DOC_META).select(
                F.to_json(F.struct("doc_id", "name", "version", "content_type",
                                   "created_at")).alias("j"))
        with tr.span("services.serialize"):
            rows = df.collect()
            body = ("[" + ",".join(r["j"] for r in rows) + "]").encode()
        return body, len(rows)

    # ------------------------------------------------------------ checks

    def check(self, rec: dict) -> str | None:
        """None when the response matches the reference, else why not."""
        kind, p, body = rec["kind"], rec["params"], rec["body"]
        q = getattr(self, f"_ref_{kind}")(p)
        got = getattr(self, f"_got_{kind}")(body, p)
        if got != q:
            return (f"{kind} {p}: {len(got)} results, expected {len(q)}; "
                    f"first differences {sorted(set(got) ^ set(q))[:3]}")
        return None

    def _event_where(self, p: dict) -> str:
        w = ["public", f"origin_time >= TIMESTAMP '{p['starttime']}'",
             f"origin_time <= TIMESTAMP '{p['endtime']}'",
             f"magnitude >= {p['minmagnitude']}::DOUBLE"]
        if "minlatitude" in p:
            w.append(f"latitude BETWEEN {p['minlatitude']}::DOUBLE "
                     f"AND {p['maxlatitude']}::DOUBLE")
        return " AND ".join(w)

    def _ref_events(self, p: dict) -> list:
        return [r[0] for r in self.db.execute(
            f"SELECT quakeml_id FROM events WHERE {self._event_where(p)} "
            f"ORDER BY {EVENT_ORDER[p['orderby']]} LIMIT {p['limit']}").fetchall()]

    _ref_event_text = _ref_events

    def _got_event_text(self, body, p):
        return [ln.split("|", 1)[0] for ln in body.decode().split("\n") if ln]

    def _ref_event_quakeml(self, p):
        return sorted(self._ref_events(p))

    def _got_event_quakeml(self, body, p):
        root = ET.fromstring(body)
        return sorted(e.get("publicID") for e in root.iter()
                      if e.tag.endswith("}event"))

    def _ref_event_geojson(self, p):
        return sorted(self._ref_events(p))

    def _got_event_geojson(self, body, p):
        doc = json.loads(body)
        return sorted(f["id"] for f in doc["features"])

    def _ref_station_xml(self, p):
        return sorted(self.db.execute(
            "SELECT network, station, location, channel, "
            "strftime(start_date, '%Y-%m-%dT%H:%M:%S') FROM channels "
            f"WHERE network = '{p['network']}' AND station LIKE '{_like(p['station'])}' "
            f"AND (end_date IS NULL OR end_date > TIMESTAMP '{p['starttime']}')"
        ).fetchall())

    def _got_station_xml(self, body, p):
        ns = "{http://www.fdsn.org/xml/station/1}"
        out = []
        for net in ET.fromstring(body).iter(f"{ns}Network"):
            for sta in net.iter(f"{ns}Station"):
                for cha in sta.iter(f"{ns}Channel"):
                    out.append((net.get("code"), sta.get("code"),
                                cha.get("locationCode"), cha.get("code"),
                                cha.get("startDate")))
        return sorted(out)

    def _trace_ref(self, where: list[str]) -> list:
        return sorted(self.db.execute(
            "SELECT DISTINCT file_id, pos, cut_start, cut_end FROM ("
            + " UNION ALL ".join(where) + ")").fetchall())

    def _window(self, net, sta, loc, cha, s, e) -> str:
        w = [f"network LIKE '{_like(net)}'", f"station LIKE '{_like(sta)}'",
             f"channel LIKE '{_like(cha)}'",
             f"endtime > TIMESTAMP '{s}'", f"starttime < TIMESTAMP '{e}'"]
        if loc is not None:
            w.append(f"location LIKE '{_like(loc)}'")
        return ("SELECT file_id, pos, greatest(starttime, TIMESTAMP '{s}') AS cut_start, "
                "least(endtime, TIMESTAMP '{e}') AS cut_end FROM traces WHERE ".format(s=s, e=e)
                + " AND ".join(w))

    def _ref_dataselect_get(self, p):
        return self._trace_ref([self._window(p["network"], p["station"], None,
                                             p["channel"], p["starttime"], p["endtime"])])

    def _got_dataselect_get(self, body, p):
        out = []
        for ln in body.decode().split("\n"):
            if ln:
                _, s, e, f, pos = ln.split("|")
                out.append((int(f), int(pos), dt.datetime.fromisoformat(s),
                            dt.datetime.fromisoformat(e)))
        return sorted(out)

    def _ref_dataselect_bulk(self, p):
        return self._trace_ref([self._window(*ln.split()) for ln in p["body"].split("\n")])

    _got_dataselect_bulk = _got_dataselect_get

    def _ref_availability(self, p):
        tol = int(p["mergegaps"])
        s, e = p["starttime"], p["endtime"]
        keys = "network, station, location, channel, quality, sampling_rate"
        return sorted(self.db.execute(f"""
            WITH f AS (SELECT * FROM traces WHERE network = '{p['network']}'
                       AND station LIKE '{_like(p['station'])}'
                       AND endtime > TIMESTAMP '{s}' AND starttime < TIMESTAMP '{e}'),
            w AS (SELECT *, max(endtime) OVER (PARTITION BY {keys}
                    ORDER BY starttime, endtime
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev FROM f),
            g AS (SELECT *, sum(CASE WHEN prev IS NULL OR starttime > prev
                    + INTERVAL {tol} SECOND THEN 1 ELSE 0 END) OVER (PARTITION BY {keys}
                    ORDER BY starttime, endtime ROWS UNBOUNDED PRECEDING) AS span FROM w)
            SELECT {keys}, strftime(greatest(min(starttime), TIMESTAMP '{s}'), '%Y-%m-%dT%H:%M:%S'),
                   strftime(least(max(endtime), TIMESTAMP '{e}'), '%Y-%m-%dT%H:%M:%S'),
                   count(*)
            FROM g GROUP BY {keys}, span""").fetchall())

    def _got_availability(self, body, p):
        out = []
        for ln in body.decode().split("\n"):
            if ln:
                n, s, loc, c, q, rate, a, b, k = ln.split(" ")
                out.append((n, s, loc, c, q, float(rate),
                            dt.datetime.fromisoformat(a).strftime("%Y-%m-%dT%H:%M:%S"),
                            dt.datetime.fromisoformat(b).strftime("%Y-%m-%dT%H:%M:%S"),
                            int(k)))
        return sorted(out)

    def _ref_rest_search(self, p):
        field, desc = p["ordering"].lstrip("-"), p["ordering"].startswith("-")
        types = p["magnitude_type"].split(",")
        mt = " OR ".join(f"magnitude_type LIKE '{_like(t)}'" for t in types)
        return sorted(r[0] for r in self.db.execute(
            f"SELECT quakeml_id FROM events WHERE ({mt}) "
            f"AND magnitude >= {p['min_magnitude']}::DOUBLE "
            f"AND origin_time >= TIMESTAMP '{p['min_origin_time']}' "
            f"ORDER BY {field} {'DESC' if desc else ''}, quakeml_id "
            f"LIMIT {p['limit']} OFFSET {p['offset']}").fetchall())

    def _got_rest_search(self, body, p):
        from jane_spark.plans.predicates import match_row
        from jane_spark.plans.schema import QUAKEML_META

        rows = json.loads(body)
        for r in rows:  # every returned row satisfies the reference matcher
            pl = dict(r["payload"])
            pl["origin_time"] = dt.datetime.fromisoformat(pl["origin_time"]).replace(tzinfo=None)
            search = {k: v for k, v in p.items()
                      if k in ("magnitude_type", "min_magnitude", "min_origin_time")}
            if not match_row(pl, search, QUAKEML_META):
                return ["match_row rejects " + r["id"]]
        return sorted(r["id"] for r in rows)

    def _ref_rest_documents(self, p):
        field, desc = p["ordering"].lstrip("-"), p["ordering"].startswith("-")
        return [r[0] for r in self.db.execute(f"""
            SELECT doc_id FROM (
              SELECT *, row_number() OVER (PARTITION BY name
                        ORDER BY version DESC, doc_id DESC) AS rn
              FROM documents WHERE name LIKE '{_like(p['name'])}'
                AND created_at >= TIMESTAMP '{p['min_created_at']}')
            WHERE rn = 1 ORDER BY {field} {'DESC' if desc else ''}, doc_id
            LIMIT {p['limit']}""").fetchall()]

    def _got_rest_documents(self, body, p):
        return [d["doc_id"] for d in json.loads(body)]

    def close(self) -> None:
        if getattr(self, "db", None) is not None:
            self.db.close()
