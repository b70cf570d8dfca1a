"""Seeded STAC catalog generator and its DuckDB oracle.

Writes four per-collection GeoParquet-shaped files whose schemas drift
the way ``tests/conftest.py`` does: each collection carries its own
extra property columns, so every cross-collection plan goes through
``unionByName(allowMissingColumns=True)``.

- ``coll-a``: ``proj:epsg`` and ``io:tile_id`` extras;
- ``coll-b``: ``gsd`` extra;
- ``coll-c``: ``proj:epsg`` and ``sat:orbit_state`` extras;
- ``coll-d``: instant-only, no ``start_datetime``/``end_datetime``
  columns at all, the shape many real collections have.

Every geometry is an axis-aligned rectangle equal to its ``bbox``
column, so an envelope-overlap test in DuckDB is an exact
ST_Intersects oracle. In the three interval-capable collections 4 rows
in 15 take the NULL-``datetime`` interval branch, about 20% of the
catalog. ``cloud_cover`` and ``platform`` include NULLs.

Files are cached per (seed, size) under the cache directory; a second
call with the same arguments only reopens them.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

COLLECTIONS = ("coll-a", "coll-b", "coll-c", "coll-d")
INSTANT_ONLY = "coll-d"
PLATFORMS = ("landsat-8", "landsat-9", "sentinel-2a", "sentinel-2b")
EPOCH_LO = dt.datetime(2019, 1, 1, tzinfo=dt.timezone.utc)
EPOCH_HI = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
INTERVAL_SHARE = 4 / 15
ROW_GROUP = 32_768
_US = 1_000_000

# little-endian WKB Polygon with one 5-point ring: 93 bytes per row
_WKB = np.dtype(
    [("bo", "u1"), ("kind", "<u4"), ("rings", "<u4"), ("pts", "<u4"), ("xy", "<f8", (10,))]
)


def _rect_wkb(w, s, e, n) -> pa.Array:
    rec = np.zeros(len(w), dtype=_WKB)
    rec["bo"], rec["kind"], rec["rings"], rec["pts"] = 1, 3, 1, 5
    rec["xy"] = np.stack([w, s, e, s, e, n, w, n, w, s], axis=1)
    fixed = pa.Array.from_buffers(
        pa.binary(_WKB.itemsize), len(w), [None, pa.py_buffer(rec.tobytes())]
    )
    return fixed.cast(pa.binary())


def _timestamps(us: np.ndarray, mask: np.ndarray | None = None) -> pa.Array:
    return pa.array(us, type=pa.timestamp("us", tz="UTC"), mask=mask)


def _collection_table(cid: str, n: int, rng: np.random.Generator) -> pa.Table:
    width = rng.uniform(0.05, 1.5, n)
    height = rng.uniform(0.05, 1.5, n)
    w = np.round(rng.uniform(-180.0, 180.0 - width), 6)
    s = np.round(rng.uniform(-80.0, 80.0 - height), 6)
    e = np.round(w + width, 6)
    nn = np.round(s + height, 6)
    bbox = pa.FixedSizeListArray.from_arrays(
        pa.array(np.stack([w, s, e, nn], axis=1).ravel()), 4
    ).cast(pa.list_(pa.float64()))

    lo = int(EPOCH_LO.timestamp()) * _US
    hi = int(EPOCH_HI.timestamp()) * _US
    instant = rng.integers(lo, hi, n)
    cols: dict[str, pa.Array] = {
        "id": pa.array([f"{cid}-{i:07d}" for i in range(n)]),
        "type": pa.array(["Feature"] * n),
        "geometry": _rect_wkb(w, s, e, nn),
        "bbox": bbox,
    }
    if cid == INSTANT_ONLY:
        cols["datetime"] = _timestamps(instant)
    else:
        is_interval = rng.random(n) < INTERVAL_SHARE
        start = rng.integers(lo, hi, n)
        span = rng.integers(1, 91, n) * 86_400 * _US
        cols["datetime"] = _timestamps(instant, mask=is_interval)
        cols["start_datetime"] = _timestamps(start, mask=~is_interval)
        cols["end_datetime"] = _timestamps(start + span, mask=~is_interval)

    plat = rng.integers(0, len(PLATFORMS) + 1, n)
    cols["platform"] = pa.array(
        [PLATFORMS[p] if p < len(PLATFORMS) else None for p in plat.tolist()]
    )
    cloud = np.round(rng.uniform(0.0, 100.0, n), 2)
    cols["cloud_cover"] = pa.array(cloud, mask=rng.random(n) < 0.1)
    if cid in ("coll-a", "coll-c"):
        cols["proj:epsg"] = pa.array(
            rng.choice([4326, 3857, 32633], n).astype(np.int32)
        )
    if cid == "coll-a":
        cols["io:tile_id"] = pa.array(
            [f"tile-{t}" for t in rng.integers(0, 64, n).tolist()]
        )
    if cid in ("coll-b", INSTANT_ONLY):
        cols["gsd"] = pa.array(rng.choice([10.0, 20.0, 30.0, 60.0], n))
    if cid == "coll-c":
        cols["sat:orbit_state"] = pa.array(
            rng.choice(["ascending", "descending"], n).tolist()
        )
    return pa.table(cols)


def build_catalog(cache_dir: str, seed: int, items_per_collection: int) -> dict:
    """→ {"urls": {cid: parquet path}, "docs": collection.json dir,
    "sizes": {cid: rows}}; generated on the first call for this seed."""
    root = os.path.join(cache_dir, f"stac-s{seed}-n{items_per_collection}")
    done = os.path.join(root, "DONE")
    urls = {cid: os.path.join(root, "parquet", f"{cid}.parquet") for cid in COLLECTIONS}
    docs = os.path.join(root, "collections")
    if not os.path.exists(done):
        rng = np.random.default_rng([seed, 0x57AC])
        os.makedirs(os.path.join(root, "parquet"), exist_ok=True)
        for cid in COLLECTIONS:
            table = _collection_table(cid, items_per_collection, rng)
            pq.write_table(table, urls[cid], row_group_size=ROW_GROUP)
            os.makedirs(os.path.join(docs, cid), exist_ok=True)
            with open(os.path.join(docs, cid, "collection.json"), "w") as f:
                json.dump(_collection_doc(cid), f)
        open(done, "w").close()
    return {
        "urls": urls,
        "docs": docs,
        "sizes": {cid: items_per_collection for cid in COLLECTIONS},
    }


def _collection_doc(cid: str) -> dict:
    return {
        "type": "Collection",
        "id": cid,
        "stac_version": "1.0.0",
        "description": f"benchmark collection {cid}",
        "license": "proprietary",
        "extent": {
            "spatial": {"bbox": [[-180, -90, 180, 90]]},
            "temporal": {"interval": [["2019-01-01T00:00:00Z", "2024-01-01T00:00:00Z"]]},
        },
        "links": [],
    }


class Oracle:
    """Independent answers over the generated parquet, computed by
    DuckDB with its own reading of the STAC semantics (never through
    the engine under test)."""

    def __init__(self, urls: dict[str, str]) -> None:
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")
        selects = []
        for cid, path in urls.items():
            interval_cols = (
                "NULL::TIMESTAMPTZ AS start_datetime, NULL::TIMESTAMPTZ AS end_datetime"
                if cid == INSTANT_ONLY
                else "start_datetime, end_datetime"
            )
            selects.append(
                f"SELECT id, '{cid}' AS collection, bbox, datetime, {interval_cols}, "
                f"platform, cloud_cover FROM read_parquet('{path}')"
            )
        self.con.execute("CREATE TABLE items AS " + " UNION ALL ".join(selects))

    def _where(self, collections, bbox=None, interval=None, extra=None):
        parts, params = [], []
        if collections:
            parts.append("collection IN (" + ",".join("?" * len(collections)) + ")")
            params += list(collections)
        if bbox is not None:
            w, s, e, n = bbox
            parts.append("bbox[1] <= ? AND bbox[3] >= ? AND bbox[2] <= ? AND bbox[4] >= ?")
            params += [e, w, n, s]
        if interval is not None:
            lo, hi = interval
            parts.append(
                "((datetime IS NOT NULL AND datetime >= ? AND datetime <= ?) OR "
                "(datetime IS NULL AND start_datetime IS NOT NULL AND "
                "end_datetime IS NOT NULL AND start_datetime <= ? AND end_datetime >= ?))"
            )
            params += [lo, hi, hi, lo]
        if extra is not None:
            parts.append(extra[0])
            params += extra[1]
        return (" WHERE " + " AND ".join(parts)) if parts else "", params

    def page(self, collections, *, bbox=None, interval=None, extra=None,
             order="id ASC", limit=10, offset=0) -> tuple[int, list[str]]:
        """→ (numMatched, ids of the requested page)."""
        where, params = self._where(collections, bbox, interval, extra)
        total = self.con.execute(f"SELECT count(*) FROM items{where}", params).fetchone()[0]
        ids = self.con.execute(
            f"SELECT id FROM items{where} ORDER BY {order} LIMIT {limit} OFFSET {offset}",
            params,
        ).fetchall()
        return total, [r[0] for r in ids]

    def item(self, cid: str, iid: str) -> dict | None:
        row = self.con.execute(
            "SELECT id, bbox, datetime, cloud_cover FROM items WHERE collection = ? AND id = ?",
            [cid, iid],
        ).fetchone()
        if row is None:
            return None
        return {"id": row[0], "bbox": list(row[1]), "datetime": row[2], "cloud_cover": row[3]}

    def month_buckets(self, collections) -> tuple[int, list]:
        """→ (total_count, [[month key, count]] sorted, NULL key last)."""
        where, params = self._where(collections)
        total = self.con.execute(f"SELECT count(*) FROM items{where}", params).fetchone()[0]
        rows = self.con.execute(
            "SELECT strftime(date_trunc('month', datetime), '%Y-%m-%dT%H:%M:%SZ'), "
            f"count(*) FROM items{where} GROUP BY 1",
            params,
        ).fetchall()
        return total, sorted([k, v] for k, v in rows if k is not None) + [
            [k, v] for k, v in rows if k is None]
