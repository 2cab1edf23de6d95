"""Seeded input generators for the benchmark.

Every input the program sees is made here from the workload seed, with
the benchmark's own writers: pyarrow for Parquet tables, string
templates for QuakeML/StationXML, and the small SAC and MiniSEED
encoders below for waveform files. The program's own writers and
serializers are never used to make inputs, so a bug in them cannot
hide in the ground truth the checks compare against.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import itertools
import os
import random
import struct

import pyarrow as pa
import pyarrow.parquet as pq

NETWORKS = ("BW", "GR", "IU", "CH", "NZ", "XA")
AGENCIES = ("EMSC", "USGS", "INGV", "GFZ", "NIED", "ISC")
AUTHORS = ("auto", "rev", "analyst", "catalog")
MAG_TYPES = ("ML", "Mw", "mb", "Ms")
EVENT_TYPES = ("earthquake",) * 6 + ("quarry blast", "explosion")
BANDS = {"B": 20.0, "H": 100.0, "L": 1.0}
QUALITIES = ("D", "D", "D", "R", "Q", "M")
DOC_META = {
    "doc_id": "int",
    "name": "str",
    "version": "int",
    "content_type": "str",
    "created_at": "UTCDateTime",
}

_STAGE = pa.struct(
    [
        ("number", pa.int32()),
        ("stage_type", pa.string()),
        ("gain", pa.float64()),
        ("gain_frequency", pa.float64()),
        ("input_units", pa.string()),
        ("output_units", pa.string()),
        ("poles", pa.string()),
        ("zeros", pa.string()),
    ]
)


def _write(table: dict, schema: pa.Schema, path: str) -> str:
    pq.write_table(pa.Table.from_pydict(table, schema=schema), path)
    return path


# ------------------------------------------------------------ index tables


def index_tables(seed: int, out_dir: str, n_events: int, n_stations: int,
                 n_days: int) -> dict:
    """Event, channel-epoch, trace and document tables for the request
    workload, written as Parquet under ``out_dir``. Returns the paths
    and the rows as Python dicts (the ground truth)."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    base = dt.datetime(2015, 1, 1)

    # documents: catalogs with 1-3 versions each; events point at the
    # latest version of their catalog
    per_doc = 200
    n_catalogs = max(1, (n_events + per_doc - 1) // per_doc)
    docs = {k: [] for k in DOC_META}
    docs["doc_type"] = []
    docs["data"] = []
    latest = {}
    doc_id = 0
    for k in range(n_catalogs):
        for v in range(1, rng.randint(1, 3) + 1):
            doc_id += 1
            docs["doc_id"].append(doc_id)
            docs["name"].append(f"catalog_{k:04d}.xml")
            docs["version"].append(v)
            docs["content_type"].append("text/xml")
            docs["created_at"].append(base + dt.timedelta(days=k, hours=v))
            docs["doc_type"].append("quakeml")
            docs["data"].append(f"<catalog n='{k}' v='{v}' s='{seed}'/>".encode())
            latest[k] = doc_id
    doc_schema = pa.schema(
        [("doc_id", pa.int64()), ("name", pa.string()), ("version", pa.int64()),
         ("content_type", pa.string()), ("created_at", pa.timestamp("us")),
         ("doc_type", pa.string()), ("data", pa.binary())]
    )

    ev = {c: [] for c in (
        "quakeml_id", "latitude", "longitude", "depth_in_m", "origin_time",
        "magnitude", "magnitude_type", "agency", "author", "public",
        "evaluation_mode", "event_type", "has_focal_mechanism",
        "has_moment_tensor", "fm_strike", "fm_dip", "fm_rake", "updated",
        "doc_id")}
    span_ms = 8 * 365 * 86_400_000
    for i in range(n_events):
        t = base + dt.timedelta(milliseconds=rng.randrange(span_ms))
        fm = rng.random() < 0.1
        ev["quakeml_id"].append(f"smi:bench/ev{i:07d}")
        ev["latitude"].append(round(rng.uniform(-60.0, 70.0), 3))
        ev["longitude"].append(round(rng.uniform(-180.0, 180.0), 3))
        ev["depth_in_m"].append(round(rng.uniform(0.0, 300_000.0), 1))
        ev["origin_time"].append(t)
        ev["magnitude"].append(round(rng.uniform(1.0, 8.0), 1))
        ev["magnitude_type"].append(rng.choice(MAG_TYPES))
        ev["agency"].append(rng.choice(AGENCIES))
        ev["author"].append(rng.choice(AUTHORS))
        ev["public"].append(rng.random() < 0.9)
        ev["evaluation_mode"].append(rng.choice(("automatic", "manual")))
        ev["event_type"].append(rng.choice(EVENT_TYPES))
        ev["has_focal_mechanism"].append(fm)
        ev["has_moment_tensor"].append(fm and rng.random() < 0.5)
        ev["fm_strike"].append(float(rng.randrange(360)) if fm else None)
        ev["fm_dip"].append(float(rng.randrange(1, 90)) if fm else None)
        ev["fm_rake"].append(float(rng.randrange(-180, 180)) if fm else None)
        ev["updated"].append(t + dt.timedelta(days=rng.randrange(1, 30)))
        ev["doc_id"].append(latest[i // per_doc])
    ev_schema = pa.schema(
        [("quakeml_id", pa.string()), ("latitude", pa.float64()),
         ("longitude", pa.float64()), ("depth_in_m", pa.float64()),
         ("origin_time", pa.timestamp("us")), ("magnitude", pa.float64()),
         ("magnitude_type", pa.string()), ("agency", pa.string()),
         ("author", pa.string()), ("public", pa.bool_()),
         ("evaluation_mode", pa.string()), ("event_type", pa.string()),
         ("has_focal_mechanism", pa.bool_()), ("has_moment_tensor", pa.bool_()),
         ("fm_strike", pa.float64()), ("fm_dip", pa.float64()),
         ("fm_rake", pa.float64()), ("updated", pa.timestamp("us")),
         ("doc_id", pa.int64())]
    )

    ch = {c: [] for c in (
        "network", "station", "location", "channel", "latitude", "longitude",
        "elevation_in_m", "depth_in_m", "start_date", "end_date",
        "sample_rate", "sensor_type", "total_sensitivity",
        "sensitivity_frequency", "units_after_sensitivity",
        "response_stages", "restricted")}
    tr = {c: [] for c in (
        "network", "station", "location", "channel", "starttime", "endtime",
        "sampling_rate", "npts", "duration", "quality", "file_id", "pos",
        "restricted")}
    day0 = dt.datetime(2023, 1, 1)
    file_id = 0
    for s in range(n_stations):
        net = NETWORKS[s % len(NETWORKS)]
        sta = f"S{s:03d}"
        lat = round(rng.uniform(-60.0, 70.0), 3)
        lon = round(rng.uniform(-180.0, 180.0), 3)
        elev = round(rng.uniform(0.0, 3000.0), 1)
        band = rng.choice(tuple(BANDS))
        locs = rng.choice((("",), ("00",), ("", "10"), ("00", "10")))
        for loc in locs:
            for comp in "ZNE":
                cha = f"{band}H{comp}"
                rate = BANDS[band]
                first = dt.datetime(2005 + rng.randrange(10), 1 + rng.randrange(12), 1)
                epochs = [(first, None)]
                if rng.random() < 0.4:
                    cut = dt.datetime(2016 + rng.randrange(6), 1 + rng.randrange(12), 1)
                    epochs = [(first, cut), (cut, None)]
                for start, end in epochs:
                    stages = None
                    if rng.random() < 0.25:
                        stages = [
                            {"number": 1, "stage_type": "PolesZeros",
                             "gain": 1500.0, "gain_frequency": 0.05,
                             "input_units": "M/S", "output_units": "V",
                             "poles": "-0.037:0.037;-0.037:-0.037",
                             "zeros": "0.0:0.0;0.0:0.0"},
                            {"number": 2, "stage_type": "Coefficients",
                             "gain": 419430.0, "gain_frequency": 0.0,
                             "input_units": "V", "output_units": "COUNTS",
                             "poles": "", "zeros": ""},
                        ]
                    ch["network"].append(net)
                    ch["station"].append(sta)
                    ch["location"].append(loc)
                    ch["channel"].append(cha)
                    ch["latitude"].append(lat)
                    ch["longitude"].append(lon)
                    ch["elevation_in_m"].append(elev)
                    ch["depth_in_m"].append(0.0)
                    ch["start_date"].append(start)
                    ch["end_date"].append(end)
                    ch["sample_rate"].append(rate)
                    ch["sensor_type"].append(rng.choice(("STS-2", "T-240", "LE-3D")))
                    ch["total_sensitivity"].append(float(rng.randrange(1, 20)) * 1e8)
                    ch["sensitivity_frequency"].append(1.0)
                    ch["units_after_sensitivity"].append("M/S")
                    ch["response_stages"].append(stages)
                    ch["restricted"].append(rng.random() < 0.05)
                for d in range(n_days):
                    file_id += 1
                    t = day0 + dt.timedelta(days=d, seconds=rng.randrange(3600))
                    for seg in range(rng.randint(1, 3)):
                        dur_s = rng.randrange(1800, 8 * 3600)
                        npts = int(dur_s * rate)
                        end_t = t + dt.timedelta(seconds=dur_s)
                        tr["network"].append(net)
                        tr["station"].append(sta)
                        tr["location"].append(loc)
                        tr["channel"].append(cha)
                        tr["starttime"].append(t)
                        tr["endtime"].append(end_t)
                        tr["sampling_rate"].append(rate)
                        tr["npts"].append(npts)
                        tr["duration"].append(float(dur_s))
                        tr["quality"].append(rng.choice(QUALITIES))
                        tr["file_id"].append(file_id)
                        tr["pos"].append(seg * 4096)
                        tr["restricted"].append(False)
                        # gaps of 0-2 h; a zero gap abuts the next segment
                        t = end_t + dt.timedelta(seconds=rng.choice((0, 0, 60, 7200)))
    ch_schema = pa.schema(
        [("network", pa.string()), ("station", pa.string()),
         ("location", pa.string()), ("channel", pa.string()),
         ("latitude", pa.float64()), ("longitude", pa.float64()),
         ("elevation_in_m", pa.float64()), ("depth_in_m", pa.float64()),
         ("start_date", pa.timestamp("us")), ("end_date", pa.timestamp("us")),
         ("sample_rate", pa.float64()), ("sensor_type", pa.string()),
         ("total_sensitivity", pa.float64()),
         ("sensitivity_frequency", pa.float64()),
         ("units_after_sensitivity", pa.string()),
         ("response_stages", pa.list_(_STAGE)), ("restricted", pa.bool_())]
    )
    tr_schema = pa.schema(
        [("network", pa.string()), ("station", pa.string()),
         ("location", pa.string()), ("channel", pa.string()),
         ("starttime", pa.timestamp("us")), ("endtime", pa.timestamp("us")),
         ("sampling_rate", pa.float64()), ("npts", pa.int64()),
         ("duration", pa.float64()), ("quality", pa.string()),
         ("file_id", pa.int64()), ("pos", pa.int64()), ("restricted", pa.bool_())]
    )
    return {
        "events": _write(ev, ev_schema, f"{out_dir}/events.parquet"),
        "channels": _write(ch, ch_schema, f"{out_dir}/channels.parquet"),
        "traces": _write(tr, tr_schema, f"{out_dir}/traces.parquet"),
        "documents": _write(docs, doc_schema, f"{out_dir}/documents.parquet"),
        "rows": {"events": ev, "channels": ch, "traces": tr, "documents": docs},
    }


# -------------------------------------------------------- waveform encoders


def sac_bytes(net: str, sta: str, loc: str, cha: str, start: dt.datetime,
              rate: float, samples: list[float]) -> bytes:
    """Big-endian evenly-sampled SAC file: 70 float words, 40 int words,
    192 bytes of character fields, then float32 samples."""
    floats = [-12345.0] * 70
    ints = [-12345] * 40
    floats[0] = 1.0 / rate  # DELTA
    floats[5] = 0.0  # B
    floats[6] = (len(samples) - 1) / rate  # E
    ints[0:6] = [start.year, start.timetuple().tm_yday, start.hour,
                 start.minute, start.second, start.microsecond // 1000]
    ints[6] = 6  # NVHDR
    ints[9] = len(samples)  # NPTS
    ints[15] = 1  # IFTYPE = ITIME
    ints[35] = 1  # LEVEN
    chars = bytearray(b" " * 192)
    for off, val in ((440, sta), (464, loc), (600, cha), (608, net)):
        chars[off - 440 : off - 440 + 8] = val.ljust(8).encode()
    return (struct.pack(">70f", *floats) + struct.pack(">40i", *ints)
            + bytes(chars) + struct.pack(f">{len(samples)}f", *samples))


_MSEED_PER_RECORD = (512 - 64) // 4


def mseed_bytes(net: str, sta: str, loc: str, cha: str, start: dt.datetime,
                rate: int, samples: list[int], quality: str = "D") -> bytes:
    """MiniSEED v2: 512-byte big-endian records, int32 encoding,
    blockette 1000 at byte 48, data at byte 64, integer rates only."""
    out = bytearray()
    for rec, i in enumerate(range(0, len(samples), _MSEED_PER_RECORD)):
        chunk = samples[i : i + _MSEED_PER_RECORD]
        t = start + dt.timedelta(microseconds=round(i / rate * 1_000_000))
        head = (
            f"{rec + 1:06d}".encode() + quality.encode() + b" "
            + sta.ljust(5).encode() + loc.ljust(2).encode()
            + cha.ljust(3).encode() + net.ljust(2).encode()
            + struct.pack(">HHBBBBH", t.year, t.timetuple().tm_yday, t.hour,
                          t.minute, t.second, 0, t.microsecond // 100)
            + struct.pack(">Hhh", len(chunk), rate, 1)
            + struct.pack(">BBBB", 0, 0, 0, 1)
            + struct.pack(">i", 0)
            + struct.pack(">HH", 64, 48)
        )
        b1000 = struct.pack(">HHBBBB", 1000, 0, 3, 1, 9, 0) + bytes(8)
        body = struct.pack(f">{len(chunk)}i", *chunk)
        out += head + b1000 + body + bytes(512 - 64 - len(body))
    return bytes(out)


# ------------------------------------------------------------ upload batch


def _quakeml(doc_name: str, events: list[dict]) -> str:
    parts = [
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<q:quakeml xmlns:q="http://quakeml.org/xmlns/quakeml/1.2" '
        'xmlns="http://quakeml.org/xmlns/bed/1.2">'
        f'<eventParameters publicID="smi:bench/{doc_name}">'
    ]
    for e in events:
        parts.append(
            f'<event publicID="{e["quakeml_id"]}"><type>{e["event_type"]}</type>'
            f'<origin publicID="{e["quakeml_id"]}/o">'
            f'<time><value>{e["origin_time"].isoformat()}</value></time>'
            f'<latitude><value>{e["latitude"]!r}</value></latitude>'
            f'<longitude><value>{e["longitude"]!r}</value></longitude>'
            f'<depth><value>{e["depth_in_m"]!r}</value></depth></origin>'
            f'<magnitude publicID="{e["quakeml_id"]}/m">'
            f'<mag><value>{e["magnitude"]!r}</value></mag>'
            f'<type>{e["magnitude_type"]}</type></magnitude></event>'
        )
    parts.append("</eventParameters></q:quakeml>")
    return "".join(parts)


def _stationxml(net: str, stations: list[dict]) -> str:
    parts = [
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<FDSNStationXML xmlns="http://www.fdsn.org/xml/station/1" '
        f'schemaVersion="1.1"><Source>bench</Source><Network code="{net}">'
    ]
    for s in stations:
        parts.append(
            f'<Station code="{s["station"]}"><Latitude>{s["latitude"]!r}</Latitude>'
            f'<Longitude>{s["longitude"]!r}</Longitude>'
            f'<Elevation>{s["elevation_in_m"]!r}</Elevation>'
        )
        for c in s["channels"]:
            parts.append(
                f'<Channel code="{c["channel"]}" locationCode="{c["location"]}" '
                f'startDate="{c["start_date"].isoformat()}"><SampleRate>20</SampleRate>'
                '</Channel>'
            )
        parts.append("</Station>")
    parts.append("</Network></FDSNStationXML>")
    return "".join(parts)


_BROKEN = ("truncated", "wrong-root", "no-id")


def _break(text: str, kind: str, doc_type: str) -> str:
    if kind == "truncated":
        return text[: len(text) // 2]
    if kind == "wrong-root":
        root = "q:quakeml" if doc_type == "quakeml" else "FDSNStationXML"
        return text.replace(f"<{root}", "<catalogue", 1).replace(
            f"</{root}>", "</catalogue>")
    if doc_type == "quakeml":  # an event without its publicID
        return text.replace('<event publicID="', '<event other="', 1)
    return text.replace('<Network code="', '<Network other="', 1)


def _events_for_doc(rng: random.Random, doc: int, n: int, tag: str) -> list[dict]:
    base = dt.datetime(2020, 1, 1)
    return [
        {
            "quakeml_id": f"smi:bench/up{doc:04d}{tag}/ev{j:03d}",
            "origin_time": base + dt.timedelta(milliseconds=rng.randrange(10**11)),
            "latitude": round(rng.uniform(-60.0, 70.0), 3),
            "longitude": round(rng.uniform(-180.0, 180.0), 3),
            "depth_in_m": round(rng.uniform(0.0, 300_000.0), 1),
            "magnitude": round(rng.uniform(1.0, 8.0), 1),
            "magnitude_type": rng.choice(MAG_TYPES),
            "event_type": rng.choice(EVENT_TYPES),
        }
        for j in range(n)
    ]


def upload_batch(seed: int, out_dir: str, n_quakeml: int, n_stationxml: int,
                 n_waveform: int, events_per_doc: int) -> dict:
    """One upload batch: QuakeML and StationXML documents (a seed-chosen
    share malformed), SAC and MiniSEED waveform files, and a re-upload
    of a seed-chosen subset of the accepted QuakeML documents with
    changed content. Writes the documents as Parquet and the waveform
    files as files under ``out_dir``; returns paths, byte counts and the
    ground truth."""
    rng = random.Random(seed * 7919 + 1)
    os.makedirs(f"{out_dir}/wave", exist_ok=True)
    created = dt.datetime(2024, 1, 1)
    bad_share = rng.uniform(0.1, 0.25)
    q_rows, s_rows, rejected = [], [], 0
    truth_events: dict[int, list[dict]] = {}
    truth_channels: list[tuple] = []
    for d in range(n_quakeml):
        evs = _events_for_doc(rng, d, rng.randint(events_per_doc // 2, events_per_doc), "")
        text = _quakeml(f"up{d:04d}", evs)
        if rng.random() < bad_share:
            text = _break(text, rng.choice(_BROKEN), "quakeml")
            rejected += 1
        else:
            truth_events[d] = evs
        q_rows.append((d, "quakeml", f"up{d:04d}.xml", text.encode(), 1))
    for d in range(n_stationxml):
        net = f"{chr(65 + d // 26 % 26)}{chr(65 + d % 26)}"
        stations = []
        for k in range(rng.randint(2, 4)):
            s = {"station": f"U{k:03d}", "latitude": round(rng.uniform(-60, 70), 3),
                 "longitude": round(rng.uniform(-180, 180), 3),
                 "elevation_in_m": round(rng.uniform(0, 3000), 1), "channels": []}
            for comp in "ZNE":
                s["channels"].append({
                    "channel": f"BH{comp}", "location": rng.choice(("", "00")),
                    "start_date": dt.datetime(2010 + rng.randrange(10), 1, 1)})
            stations.append(s)
        text = _stationxml(net, stations)
        if rng.random() < bad_share:
            text = _break(text, rng.choice(_BROKEN), "stationxml")
            rejected += 1
        else:
            truth_channels += [(net, s["station"], c["location"], c["channel"])
                               for s in stations for c in s["channels"]]
        s_rows.append((10_000 + d, "stationxml", f"inv{d:04d}.xml", text.encode(), 1))
    # re-upload: changed content for a subset of accepted catalogs
    accepted = sorted(truth_events)
    changed = sorted(rng.sample(accepted, max(1, len(accepted) // 5))) if accepted else []
    re_rows = []
    for d in changed:
        evs = _events_for_doc(rng, d, rng.randint(1, events_per_doc), "r")
        truth_events[d] = evs
        re_rows.append((20_000 + d, "quakeml", f"up{d:04d}.xml",
                        _quakeml(f"up{d:04d}", evs).encode(), 2))

    schema = pa.schema([("doc_id", pa.int64()), ("doc_type", pa.string()),
                        ("name", pa.string()), ("content_type", pa.string()),
                        ("data", pa.binary()), ("created_at", pa.timestamp("us")),
                        ("version", pa.int64())])

    def write_docs(rows, path):
        table = {
            "doc_id": [r[0] for r in rows], "doc_type": [r[1] for r in rows],
            "name": [r[2] for r in rows], "content_type": ["text/xml"] * len(rows),
            "data": [r[3] for r in rows], "created_at": [created] * len(rows),
            "version": [r[4] for r in rows],
        }
        return _write(table, schema, path)

    truth_traces = []
    wave_bytes = 0
    for f in range(n_waveform):
        net, sta, cha = "WV", f"W{f:03d}", "BHZ"
        start = dt.datetime(2023, 3, 1) + dt.timedelta(seconds=rng.randrange(86_400 * 30))
        if f % 2:
            n = rng.randrange(2000, 6000)
            data = sac_bytes(net, sta, "", cha, start, 40.0,
                             [float(rng.randrange(-1000, 1000)) for _ in range(n)])
            truth_traces.append((net, sta, "", cha, n, 40.0))
        else:
            n = rng.randrange(1000, 3000)
            data = mseed_bytes(net, sta, "00", cha, start, 20,
                               [rng.randrange(-50_000, 50_000) for _ in range(n)])
            per = _MSEED_PER_RECORD
            truth_traces += [(net, sta, "00", cha, min(per, n - i), 20.0)
                             for i in range(0, n, per)]
        with open(f"{out_dir}/wave/f{f:04d}.{'sac' if f % 2 else 'mseed'}", "wb") as fh:
            fh.write(data)
        wave_bytes += len(data)

    return {
        "quakeml": write_docs(q_rows, f"{out_dir}/quakeml.parquet"),
        "stationxml": write_docs(s_rows, f"{out_dir}/stationxml.parquet"),
        "reupload": write_docs(re_rows, f"{out_dir}/reupload.parquet"),
        "wave_glob": f"{out_dir}/wave/*",
        "payload_bytes": sum(len(r[3]) for r in q_rows + s_rows + re_rows) + wave_bytes,
        "n_documents": len(q_rows) + len(s_rows) + len(re_rows),
        "n_files": n_waveform,
        "rejected": rejected,
        "events": {d: sorted(e["quakeml_id"] for e in evs) for d, evs in truth_events.items()},
        "event_mags": {e["quakeml_id"]: e["magnitude"]
                       for evs in truth_events.values() for e in evs},
        "channels": sorted(truth_channels),
        "traces": sorted(truth_traces),
    }


# ------------------------------------------------------------ curation corpus


def curation_corpus(seed: int, out_dir: str, n_docs: int) -> dict:
    """Documents for the near-duplicate pipeline: random-word text in
    lines, with seed-injected near-duplicate groups (one word appended),
    exact duplicates, short low-quality documents, and boilerplate lines
    shared by many documents. Returns the path and the ground truth:
    each document's group (near- and exact duplicates share one), its
    text, content fingerprint and the boilerplate lines."""
    rng = random.Random(seed * 104729 + 3)
    os.makedirs(out_dir, exist_ok=True)
    vocab = sorted({
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(rng.randint(3, 9)))
        for _ in range(4000)
    })
    boiler = [" ".join(rng.choice(vocab) for _ in range(6)) for _ in range(4)]

    # word frequencies follow Zipf's law, shorter words more frequent, as
    # in natural text, so every seed's corpus has about the same size and
    # compresses alike
    by_rank = sorted(vocab, key=lambda w: (len(w), w))
    cum = list(itertools.accumulate(1.0 / r for r in range(1, len(vocab) + 1)))

    def body(n_lines: int) -> list[str]:
        return [" ".join(rng.choices(by_rank, cum_weights=cum, k=6)) for _ in range(n_lines)]

    # a fixed mix per 40 originals, in seed order: 3 short, 5 with near
    # duplicates (1-4 variants), 2 with exact copies (1-2), 30 plain;
    # every fourth original also carries a boilerplate line
    mix = ["short"] * 3 + ["near"] * 5 + ["exact"] * 2 + ["plain"] * 30
    texts, groups = [], []
    n = 0
    while len(texts) < n_docs:
        if n % len(mix) == 0:
            rng.shuffle(mix)
        kind = mix[n % len(mix)]
        gid = len(texts)
        lines = body(rng.randint(4, 6))
        if n % 4 == 0:
            lines.insert(rng.randrange(len(lines) + 1), boiler[n // 4 % len(boiler)])
        if kind == "short":  # fails the quality filter
            lines = body(1)
        texts.append(lines)
        groups.append(gid)
        if kind == "near":
            # one word appended changes one shingle, so every variant
            # stays above Jaccard 0.9 of the original
            for _ in range(1 + n // len(mix) % 4):
                texts.append(lines[:-1] + [f"{lines[-1]} {rng.choice(vocab)}"])
                groups.append(gid)
        elif kind == "exact":
            for _ in range(1 + n // len(mix) % 2):
                texts.append(list(lines))
                groups.append(gid)
        n += 1
    texts, groups = texts[:n_docs], groups[:n_docs]
    # shuffle ids so a group's members are not adjacent
    order = list(range(len(texts)))
    rng.shuffle(order)
    docs = {"id": [], "text": []}
    truth_group, truth_text = {}, {}
    for new_id, old in enumerate(order, start=1):
        text = "\n".join(texts[old])
        docs["id"].append(new_id)
        docs["text"].append(text)
        truth_group[new_id] = groups[old]
        truth_text[new_id] = text
    schema = pa.schema([("id", pa.int64()), ("text", pa.string())])
    path = _write(docs, schema, f"{out_dir}/documents.parquet")
    return {
        "path": path,
        "group": truth_group,
        "text": truth_text,
        "boilerplate": boiler,
        "bytes": sum(len(t.encode()) for t in truth_text.values()),
        "md5": {i: hashlib.md5(t.encode()).hexdigest() for i, t in truth_text.items()},
    }
