"""Overpass / HTTP ingestion: query builders, JSON/XML parsing, transport.

Reference parity (S6/S7):

- MunicipalityJobs.java:385-798 builds an Overpass QL query per
  municipality (named-highway ways inside the admin relation's area, with
  the documented budget ``[timeout:3600][maxsize:1073741824]``), URL-
  encodes it and streams the (optionally gzipped) response.
- imports/HousenumberListDownload.java:89-301 downloads official list
  files over plain HTTP.

Spark-native decomposition: the QUERY BUILDERS and RESPONSE PARSER are
pure functions (offline-testable — parsing reuses the unified element
schema of sources/osm_xml.py, so a fetched response drops straight into
the engine's operators); the TRANSPORT is one thin urllib call used at the
edge of the system only. Fetch a region ONCE, land it as parquet, and the
distributed pipelines take over — per-municipality live queries are the
reference's bottleneck, not a pattern to replicate on a cluster.
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .osm_xml import SCHEMA as ELEMENT_SCHEMA
from .osm_xml import parse_osm_bytes

# the reference's budget constants (MunicipalityJobs.java:405)
TIMEOUT_S = 3600
MAXSIZE_BYTES = 1073741824
_AREA_OFFSET = 3600000000  # Overpass relation-id → area-id offset


def build_street_query(
    relation_id: int,
    timeout_s: int = TIMEOUT_S,
    maxsize: int = MAXSIZE_BYTES,
    out: str = "json",
) -> str:
    """Named-highway ways inside an admin relation's area — the reference's
    street-catalog query (MunicipalityJobs.java:404-411) with a selectable
    output format (the reference uses xml; json parses lighter)."""
    area_id = _AREA_OFFSET + abs(int(relation_id))
    return (
        f"[timeout:{timeout_s}][maxsize:{maxsize}]\n"
        f"[out:{out}];\n"
        f"area({area_id})->.boundaryarea;\n"
        "(\n"
        'way(area.boundaryarea)["highway"]["name"];>;\n'
        ");\n"
        "out meta;"
    )


def build_address_query(
    relation_id: int,
    timeout_s: int = TIMEOUT_S,
    maxsize: int = MAXSIZE_BYTES,
    out: str = "json",
) -> str:
    """addr:housenumber-carrying nodes/ways/relations inside the area —
    the census/evaluation input (TheoreticalHousenumbers' planet scans,
    expressed as the equivalent live query)."""
    area_id = _AREA_OFFSET + abs(int(relation_id))
    return (
        f"[timeout:{timeout_s}][maxsize:{maxsize}]\n"
        f"[out:{out}];\n"
        f"area({area_id})->.boundaryarea;\n"
        "(\n"
        'node(area.boundaryarea)["addr:housenumber"];\n'
        'way(area.boundaryarea)["addr:housenumber"];>;\n'
        'relation(area.boundaryarea)["addr:housenumber"];\n'
        ");\n"
        "out meta;"
    )


def parse_overpass_json(buf: bytes) -> list[tuple]:
    """Overpass JSON response → unified element rows (same shape as
    osm_xml.parse_osm_bytes): (kind, osm_id, lon, lat, refs, members,
    tags)."""
    doc = json.loads(buf)
    rows = []
    for el in doc.get("elements", []):
        kind = el["type"]
        tags = el.get("tags") or None
        if kind == "node":
            lon, lat = el.get("lon"), el.get("lat")  # absent under out-skel
            rows.append(
                ("node", int(el["id"]),
                 float(lon) if lon is not None else None,
                 float(lat) if lat is not None else None,
                 None, None, tags)
            )
        elif kind == "way":
            rows.append(("way", int(el["id"]), None, None,
                         [int(r) for r in el.get("nodes", [])], None, tags))
        elif kind == "relation":
            members = [
                (m.get("type"), int(m.get("ref")), m.get("role"))
                for m in el.get("members", [])
            ]
            rows.append(("relation", int(el["id"]), None, None, None,
                         members, tags))
    return rows


def elements_df(spark: SparkSession, payload: bytes, fmt: str = "json") -> DataFrame:
    """One fetched Overpass response → the engine's element DataFrame
    (then osm_xml.way_centroids / addresses_from_osm etc. apply)."""
    rows = (
        parse_overpass_json(payload) if fmt == "json"
        else parse_osm_bytes(payload)
    )
    pdf = pd.DataFrame(rows, columns=[f.name for f in ELEMENT_SCHEMA.fields])
    return spark.createDataFrame(pdf, ELEMENT_SCHEMA)


MAX_TRIES = 3  # the reference's MAXOVERPASSTRIES (MunicipalityJobs.java:390)


def http_get(
    url: str,
    timeout_s: int = 300,
    data: str | None = None,
    max_tries: int = MAX_TRIES,
    _urlopen=None,
    _sleep=None,
) -> bytes:
    """Thin transport (S7 list download + Overpass POST): gzip-aware
    urllib fetch with bounded retries — the reference retries a failed
    Overpass request up to MAXOVERPASSTRIES times, sleeping 2×n seconds
    before attempt n+1 (MunicipalityJobs.java:430-480); same linear
    backoff here. Network access is environment-dependent — callers
    should land the payload to storage immediately and resume from there.
    ``_urlopen``/``_sleep`` are test seams (offline fake transport)."""
    import gzip
    import time
    import urllib.request

    urlopen = _urlopen or urllib.request.urlopen
    sleep = _sleep or time.sleep

    req = urllib.request.Request(
        url,
        data=data.encode("utf-8") if data is not None else None,
        headers={"Accept-Encoding": "gzip",
                 "User-Agent": "housenumbercore_spark/2.0"},
    )
    failed = 0
    while True:
        if failed > 0:
            sleep(2 * failed)  # 2s, 4s, 6s — the reference's wait ladder
        try:
            with urlopen(req, timeout=timeout_s) as resp:
                payload = resp.read()
                enc = resp.headers.get("Content-Encoding")
                if enc == "gzip" or payload[:2] == b"\x1f\x8b":
                    payload = gzip.decompress(payload)
                return payload
        except Exception:
            failed += 1
            if failed > max_tries:
                raise
