"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes the
same bytes, another seed writes other inputs of the same size and shape.
The program under test only ever sees the files written here.

Each generator also returns what it planted (per-source loadable row
counts, the corpus vectors and queries, delivered-row counts), so the
workloads can check the program's outputs against the generator's own
bookkeeping rather than against the program itself.
"""

from __future__ import annotations

import json
import math
import os
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- geo_etl: GeoJSON / Esri JSON sources (FIXTURES.md F1 domains) ---

AUTHORITY = "LST"          # the one authority whose source is planted
FEATURES_PER_SOURCE = 360
DOMINANT = "Polygon"       # polygons can straddle the AOI edge and reach the clip UDF
# SWEREF99 TM (EPSG:3006) area of interest the pipeline clips to
AOI = (400000.0, 6400000.0, 700000.0, 7000000.0)
# planted shapes keep this distance from every AOI edge, so projection
# error in the WGS84 planting cannot move a feature across an edge
MARGIN = 30000.0
BASE_TYPES = ("Point", "LineString", "Polygon")
NAMES = ["Åsen", "Älvdal", "Östra mo", "Skogsbacken", "Kärret", "Bäckby"]
KATEGORI = ["naturreservat", "fornlämning", "vattenskydd", "biotop"]

# shares of the source's features (FIXTURES.md F1)
MINORITY_SHARE = 0.10     # not the dominant geometry type -> dropped by election
OUT_OF_WINDOW_SHARE = 0.05  # coordinates outside the declared SR window
NO_CRS_SHARE = 0.05       # delivered in a file that declares no CRS
STRADDLE_SHARE = 0.15     # lines/polygons crossing the AOI edge -> clip UDF
OUTSIDE_SHARE = 0.25      # wholly outside the AOI -> dropped by the prefilter


def _tm_to_wgs84(x: float, y: float) -> tuple[float, float]:
    """Approximate inverse of SWEREF99 TM (first-order transverse
    Mercator on GRS80), good to a few km in Sweden — well inside MARGIN,
    which is all the planting needs."""
    m = y / 0.9996
    lat = m / 111132.95
    for _ in range(6):  # invert the meridian-arc series by fixed point
        r = math.radians(lat)
        lat = (m + 16038.5 * math.sin(2 * r) - 16.8 * math.sin(4 * r)) / 111132.95
    r = math.radians(lat)
    n = 6378137.0 / math.sqrt(1 - 0.00669438 * math.sin(r) ** 2)
    lon = 15.0 + math.degrees((x - 500000.0) / (0.9996 * n * math.cos(r)))
    return lon, lat


def _place(rng: np.random.Generator, where: str, base: str) -> tuple[float, float, float, float]:
    """(x0, y0, x1, y1) in EPSG:3006 for a planted shape: `inside` and
    `outside` keep MARGIN from every AOI edge, `straddle` reaches MARGIN
    past one edge on each side."""
    xmin, ymin, xmax, ymax = AOI
    size = 0.0 if base == "Point" else float(rng.uniform(2000, 8000))
    if where == "inside":
        x = rng.uniform(xmin + MARGIN, xmax - MARGIN - size)
        y = rng.uniform(ymin + MARGIN, ymax - MARGIN - size)
        return x, y, x + size, y + size
    if where == "outside":  # west of the AOI, inside Sweden's window
        x = rng.uniform(230000.0, xmin - MARGIN - size)
        y = rng.uniform(6200000.0, 7500000.0)
        return x, y, x + size, y + size
    # straddle the east edge
    y = rng.uniform(ymin + MARGIN, ymax - MARGIN - 8000)
    return xmax - MARGIN - 5000, y, xmax + MARGIN + 5000, y + max(size, 2000.0)


def _shape(base: str, box, to_coords, multi: bool):
    x0, y0, x1, y1 = box
    if base == "Point":
        c = to_coords(x0, y0)
        return ("MultiPoint", [c]) if multi else ("Point", c)
    if base == "LineString":
        line = [to_coords(x0, y0), to_coords((x0 + x1) / 2, y1), to_coords(x1, y0)]
        return ("MultiLineString", [line]) if multi else ("LineString", line)
    ring = [to_coords(x0, y0), to_coords(x1, y0), to_coords(x1, y1),
            to_coords(x0, y1), to_coords(x0, y0)]
    return ("MultiPolygon", [[ring]]) if multi else ("Polygon", [ring])


def _esri_geometry(gt: str, coords):
    if gt == "Point":
        return {"x": coords[0], "y": coords[1]}
    if gt == "MultiPoint":
        return {"points": coords}
    if gt == "LineString":
        return {"paths": [coords]}
    if gt == "MultiLineString":
        return {"paths": coords}
    return {"rings": coords if gt == "Polygon" else coords[0]}


def _stratified(rng: np.random.Generator, n: int) -> np.ndarray:
    """n uniform draws in [0, 1), one in each of n equal strata, in random
    order: the share below any threshold t is t to within 1/n, so the
    planted shares, and what the pipeline keeps, barely vary by seed."""
    return (rng.permutation(n) + rng.random(n)) / n


def _write_json(path: str, doc: dict) -> int:
    raw = json.dumps(doc, ensure_ascii=False, sort_keys=True).encode("utf-8")
    with open(path, "wb") as f:
        f.write(raw)
    return len(raw)


def write_geo_sources(root: str, seed: int) -> dict:
    """Write one source of FEATURES_PER_SOURCE features plus config.yaml
    and sources.yaml.

    Each feature lands in one of three file kinds, a third each: GeoJSON in EPSG:3006, GeoJSON in WGS84 (reaches the reproject
    UDF) and Esri JSON in EPSG:3006. Each kind is two files: the bulk,
    which declares its CRS, and a NO_CRS_SHARE file that declares none,
    so the connector's default CRS applies (WGS84 for GeoJSON, 3006 for
    Esri JSON). The file connectors never yield a NULL crs, so a missing
    declaration is the file-level form of FIXTURES.md's NULL-CRS rows.

    Returns {"expected": {source_name: rows the load must hold},
    "input_bytes": n, "n_features": n, "config": path, "sources": path,
    "workspace": path}.
    """
    rng = np.random.default_rng([seed, 1])
    os.makedirs(root, exist_ok=True)
    kinds = ("geojson_tm", "geojson_wgs84", "esri_tm")
    name = f"{AUTHORITY.lower()}_{DOMINANT.lower()}_00"
    minority = [b for b in BASE_TYPES if b != DOMINANT]
    files: dict[tuple[str, bool], list] = {}
    keep = 0
    u_type, u_where, u_bad, u_crs = (_stratified(rng, FEATURES_PER_SOURCE) for _ in range(4))
    for fid in range(FEATURES_PER_SOURCE):
        kind = kinds[fid % 3]
        base = DOMINANT if u_type[fid] >= MINORITY_SHARE else minority[int(rng.integers(2))]
        u = u_where[fid]
        if base == "Point":  # points cannot straddle an edge
            where = "outside" if u < OUTSIDE_SHARE else "inside"
        else:
            where = ("outside" if u < OUTSIDE_SHARE else
                     "straddle" if u < OUTSIDE_SHARE + STRADDLE_SHARE else "inside")
        bad = u_bad[fid] < OUT_OF_WINDOW_SHARE
        no_crs = u_crs[fid] < NO_CRS_SHARE
        box = _place(rng, where, base)
        # the CRS the connector will assign to the file this feature lands in
        if kind == "geojson_wgs84" or (no_crs and kind == "geojson_tm"):
            def to_coords(x, y, bad=bad):
                lon, lat = _tm_to_wgs84(x, y)
                return [round(lon + (400.0 if bad else 0.0), 7), round(lat, 7)]
        else:
            def to_coords(x, y, bad=bad):
                return [round(x + (1500000.0 if bad else 0.0), 2), round(y, 2)]
        gt, coords = _shape(base, box, to_coords, multi=rng.random() < 0.1)
        props = {
            "namn": f"{NAMES[int(rng.integers(len(NAMES)))]} {fid}",
            "kategori": KATEGORI[int(rng.integers(len(KATEGORI)))],
            "areal_ha": round(float(rng.uniform(0.1, 500.0)), 2),
            "aktiv": bool(rng.random() < 0.8),
        }
        if kind == "esri_tm":
            feat = {"attributes": props, "geometry": _esri_geometry(gt, coords)}
        else:
            feat = {"type": "Feature", "properties": props,
                    "geometry": {"type": gt, "coordinates": coords}}
        files.setdefault((kind, no_crs), []).append(feat)
        if base == DOMINANT and not bad and where != "outside":
            keep += 1
    paths, total_bytes = [], 0
    for (kind, no_crs), feats in sorted(files.items()):
        if kind == "esri_tm":
            doc = {"features": feats, "geometryType": "esri"}
            if not no_crs:
                doc["spatialReference"] = {"wkid": 3006}
            ext = "json"
        else:
            doc = {"type": "FeatureCollection", "features": feats}
            if not no_crs:
                doc["crs"] = {"type": "name", "properties": {
                    "name": "urn:ogc:def:crs:OGC:1.3:CRS84" if kind == "geojson_wgs84"
                    else "EPSG:3006"}}
            ext = "geojson"
        part = f"{kind}_{'nocrs' if no_crs else 'bulk'}"
        path = os.path.join(root, "downloads", AUTHORITY, f"{name}_{part}.{ext}")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        total_bytes += _write_json(path, doc)
        paths.append(os.path.abspath(path))
    spec = {"name": name, "authority": AUTHORITY, "type": "file", "raw": {"paths": paths}}
    cfg_path = os.path.join(root, "config.yaml")
    src_path = os.path.join(root, "sources.yaml")
    ws = os.path.abspath(os.path.join(root, "workspace"))
    _write_json(cfg_path, {  # JSON is YAML
        "workspaces": {"downloads": os.path.abspath(os.path.join(root, "downloads")),
                       "staging": ws + "/staging"},
        "geoprocessing": {"aoi_bbox": list(AOI)},
    })
    _write_json(src_path, {"sources": [spec]})
    return {"expected": {name: keep}, "input_bytes": total_bytes,
            "n_features": FEATURES_PER_SOURCE,
            "config": cfg_path, "sources": src_path, "workspace": ws}


# --- near_dup: documents with planted near-duplicate clusters ---

VOCAB = ("the a fast slow big small key value row column table data query join "
         "group order sort filter merge hash scan batch stream window part line "
         "customer spark vector agg index shard node cache page block file log "
         "record field chunk token frame delta").split()
LANGS = ("en", "de", "es", "fr", "sv", "zh")
N_DOCS = 400
N_DELTA = 24
DUP_SHARE = 0.2  # share of the corpus that near-duplicates a cluster base


def _doc_table(ids, texts, rng) -> pa.Table:
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[int(i)] for i in rng.integers(0, len(LANGS), len(ids))]),
        "source": pa.array([f"src{int(i)}" for i in rng.integers(0, 8, len(ids))]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write_documents(sf_dir: str, seed: int) -> dict:
    """documents.parquet (N_DOCS, the corpus) and delta.parquet (N_DELTA
    new documents to dedup against the persisted index). A DUP_SHARE of
    the corpus is
    near-duplicates: copies of a cluster base with 1-3 words replaced.
    Half of the delta re-plants near-duplicates of corpus documents."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(sf_dir, exist_ok=True)

    def fresh():
        return [VOCAB[int(i)] for i in rng.integers(0, len(VOCAB), int(rng.integers(25, 60)))]

    def mutate(words):
        w = list(words)
        for _ in range(int(rng.integers(1, 4))):
            w[int(rng.integers(len(w)))] = VOCAB[int(rng.integers(len(VOCAB)))]
        return w

    n_bases = int(N_DOCS * (1 - DUP_SHARE))
    texts = [fresh() for _ in range(n_bases)]
    while len(texts) < N_DOCS:
        texts.append(mutate(texts[int(rng.integers(n_bases))]))
    order = rng.permutation(N_DOCS)
    texts = [texts[i] for i in order]
    ids = list(range(N_DOCS))
    docs = _doc_table(ids, [" ".join(t) for t in texts], rng)
    delta_texts = []
    for j in range(N_DELTA):
        delta_texts.append(mutate(texts[int(rng.integers(N_DOCS))]) if j % 2 == 0 else fresh())
    delta_ids = list(range(10_000_000, 10_000_000 + N_DELTA))
    delta = _doc_table(delta_ids, [" ".join(t) for t in delta_texts], rng)
    pq.write_table(docs, os.path.join(sf_dir, "documents.parquet"))
    pq.write_table(delta, os.path.join(sf_dir, "delta.parquet"))
    return {"n_docs": N_DOCS, "n_delta": N_DELTA,
            "input_bytes": os.path.getsize(os.path.join(sf_dir, "documents.parquet"))
            + os.path.getsize(os.path.join(sf_dir, "delta.parquet"))}


def shingles(text: str) -> set[str]:
    """Distinct word 3-gram shingles, the program's documented shingling
    (whole text when shorter than three words)."""
    w = text.split(" ")
    if len(w) < 3:
        return {" ".join(w)}
    return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}


# --- vector_index: clustered embeddings ---

N_VECS = 600
DIM = 64
N_CLUSTERS = 16
N_QUERIES = 24
N_APPEND = 24  # vectors of the batch appended to a persisted IVF index

def write_embeddings(sf_dir: str, seed: int) -> dict:
    """embeddings.parquet (N_VECS, the corpus), append.parquet (N_APPEND
    vectors to add to a persisted index) and the N_QUERIES query vectors.
    Vectors are Gaussian clusters around N_CLUSTERS random unit centres;
    the append batch and the queries are fresh draws from the same
    clusters."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(sf_dir, exist_ok=True)
    centres = rng.normal(0.0, 1.0, (N_CLUSTERS, DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)

    def draw(n):
        lab = rng.integers(0, N_CLUSTERS, n)
        v = centres[lab] + rng.normal(0.0, 0.25, (n, DIM)) / math.sqrt(DIM)
        return v.astype(np.float32), lab.astype(np.int32)

    def table(ids, v, lab):
        return pa.table({
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(lab, pa.int32()),
        })

    v, lab = draw(N_VECS)
    qv, _ = draw(N_QUERIES)
    av, alab = draw(N_APPEND)
    path = os.path.join(sf_dir, "embeddings.parquet")
    pq.write_table(table(list(range(N_VECS)), v, lab), path)
    pq.write_table(table(list(range(N_VECS, N_VECS + N_APPEND)), av, alab),
                   os.path.join(sf_dir, "append.parquet"))
    return {"corpus": v, "queries": qv.astype(np.float64), "n_vecs": N_VECS,
            "n_append": N_APPEND, "input_bytes": os.path.getsize(path)}


# --- event_stream: per-user event runs split into stream files ---

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
T0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
T0_US = int(T0.timestamp()) * 1_000_000
EVENTS_PER_RUN = 5
N_USERS = 16
RUNS_PER_USER = 4
N_FILES = 5  # stream files, one micro-batch each


def write_events(root: str, sf_dir: str, seed: int) -> dict:
    """Stream files under `root` (JSON lines, one micro-batch each with
    maxFilesPerTrigger=1) and the batch twins' inputs under `sf_dir`:
    events.parquet (distinct events) and delivered.parquet (every row the
    stream delivers, duplicates included).

    Per user: several runs of events separated by gaps longer or shorter
    than the 30-minute session gap. Events are cut into files by time;
    a share of each file is shuffled out of time order (late within the
    micro-batch), a share is delivered twice in the same file, and each
    user's last event of a file is re-delivered in the next file —
    cross-batch duplicates the dedup stream must drop. Those re-deliveries
    carry their original timestamp, equal to the user's latest, so
    sessionization over the delivered rows is the same in stream and batch.
    """
    rng = np.random.default_rng([seed, 4])
    os.makedirs(root, exist_ok=True)
    os.makedirs(sf_dir, exist_ok=True)
    rows = []  # (event_id, ts_us, user_id, event_type, value)
    for u in range(N_USERS):
        t = int(rng.integers(0, 6 * 3600)) * 1_000_000
        for _ in range(RUNS_PER_USER):
            for _ in range(EVENTS_PER_RUN):
                t += int(rng.integers(10, 900)) * 1_000_000 + int(rng.integers(0, 1_000_000))
                rows.append([0, t, u, EVENT_TYPES[int(rng.integers(len(EVENT_TYPES)))],
                             round(float(rng.uniform(1, 500)), 2)])
            t += int(rng.integers(1200, 7200)) * 1_000_000
    rows.sort(key=lambda r: (r[1], r[2]))
    for i, r in enumerate(rows):
        r[0] = i
    bounds = np.linspace(0, len(rows), N_FILES + 1).astype(int)
    delivered = []
    carry: dict[int, list] = {}
    base_mtime = 1_700_000_000
    input_bytes = 0
    for k in range(N_FILES):
        chunk = rows[bounds[k]:bounds[k + 1]]
        batch = list(carry.values()) + [list(r) for r in chunk]
        batch += [list(r) for r in chunk if rng.random() < 0.05]  # same-file duplicates
        order = list(range(len(batch)))
        late = [i for i in order if rng.random() < 0.1]
        rng.shuffle(late)  # late: out of time order inside the micro-batch
        for src, dst in zip(sorted(late), late):
            order[src] = dst
        batch = [batch[i] for i in order]
        carry = {}
        for r in sorted(chunk, key=lambda r: r[1]):
            carry[r[2]] = list(r)
        lines = [json.dumps({
            "event_id": r[0],
            "ts": (T0 + timedelta(microseconds=r[1])).strftime("%Y-%m-%d %H:%M:%S.%f"),
            "user_id": r[2], "event_type": r[3], "value": r[4],
            "props": json.dumps({"k": r[0] % 97})}) for r in batch]
        path = os.path.join(root, f"events_{k:03d}.json")
        raw = ("\n".join(lines) + "\n").encode()
        with open(path, "wb") as f:
            f.write(raw)
        # strictly increasing mtimes fix the file source's batch order
        os.utime(path, (base_mtime + 10 * k, base_mtime + 10 * k))
        input_bytes += len(raw)
        delivered.extend(batch)

    def table(rs):
        return pa.table({
            "event_id": pa.array([r[0] for r in rs], pa.int64()),
            "ts": pa.array([T0_US + r[1] for r in rs], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rs], pa.int64()),
            "event_type": pa.array([r[3] for r in rs], pa.string()),
            "value": pa.array([r[4] for r in rs], pa.float64()),
            "props": pa.array([json.dumps({"k": r[0] % 97}) for r in rs], pa.string()),
        })

    pq.write_table(table(rows), os.path.join(sf_dir, "events.parquet"))
    pq.write_table(table(delivered), os.path.join(sf_dir, "delivered.parquet"))
    return {"n_events": len(rows), "n_delivered": len(delivered), "n_files": N_FILES,
            "input_bytes": input_bytes, "stream_dir": os.path.abspath(root)}
