"""Compat service façade: the reference's four endpoints as a batch
API, byte-exact responses.

Replicates ``text_post_handler`` (/root/reference/main.cpp:304-472) so
a user of the reference can drive the same Add/Search/Delete/Pool flows
against the Spark engine:

* request validation: Search needs lat/lon/radius all != 0.0 else
  ``{"error":"1"}`` (main.cpp:339,386); Add needs nonempty msisdn and
  lat/lon/time != 0 (main.cpp:414,428); Delete needs nonempty msisdn
  (main.cpp:442,456);
* Add on a full pool fails with ``{"error":"2"}`` only for a NEW key:
  the reference looks the key up first (mapinfo.cpp:109) and allocates
  a record only for a key it does not hold (mapinfo.cpp:218-303);
* Search response: ``{`` + comma-joined ``"Msisdn":"%s","Latitude":
  "%f","Longitude":"%f","CurrTime":"%ld"`` rows + ``}`` — the
  reference's (technically invalid JSON) concatenation, main.cpp:29,
  349-376; an empty result is the bare ``{`` (retBuf after the loop
  never ran);
* rows come back in per-cell insertion (FIFO) order — postings append
  at the list tail (common.h:244-264);
* Pool response: three ``PoolName/Used/Free/All`` segments against the
  fixed capacity (mapinfo.cpp:473-497; DEFAULT_POOL_SIZE main.cpp:25).

State: a driver row mirror plus a snapshot per read.  This façade is
the only writer, so the authoritative state is a driver dict
``msisdn -> (lat, lon, ts, seq, geohash)``: Add applies last-write-wins
on ``ts`` there (ties go to the newer request) and Delete is a dict
delete — neither runs a Spark job, like the reference's O(1) edits of
one shared-memory store (mapinfo.cpp:97-382).  Reads run the engine's
operators (``radius_search_compat``, ``pool_state``) over ``state``, a
one-partition DataFrame rebuilt from the dict on the first read after
a write, so its plan has the same few lines however long the session
runs.  The earlier design unioned or anti-joined every write into one
re-cached DataFrame lineage whose plan grew ~8x per Search (perfbench
NOTES.md, "Measured defect: serve's plan growth").  Fresh writes in a
small in-memory structure with queries over a compact snapshot of it
follow Waterwheel (ICDE'18).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (DoubleType, LongType, StringType, StructField,
                               StructType)

from . import engine
from .kernel import geohash_np as gh

DEFAULT_POOL_SIZE = 1000000  # main.cpp:25

_STATE_SCHEMA = StructType([
    StructField("msisdn", StringType()), StructField("lat", DoubleType()),
    StructField("lon", DoubleType()), StructField("ts", LongType()),
    StructField("seq", LongType()), StructField("geohash", StringType())])
_ROW = '"Msisdn":"%s","Latitude":"%f","Longitude":"%f","CurrTime":"%ld"'
_POOL = '"PoolName":"%s","Used":"%d","Free":"%d","All":"%d"'


class GeoService:
    def __init__(self, spark: SparkSession, capacity: int = DEFAULT_POOL_SIZE):
        self.spark = spark
        self.capacity = capacity
        self._seq = 0
        # msisdn -> (lat, lon, ts, seq, geohash); one row per live key
        self._rows: dict[str, tuple[float, float, int, int, str]] = {}
        self._snapshot: DataFrame | None = None

    @property
    def state(self) -> DataFrame:
        """The live rows as a DataFrame (``msisdn, lat, lon, ts, seq,
        geohash``), rebuilt on the first read after a write.  Built from
        pandas so the rows reach the JVM as Arrow batches, not through a
        Python RDD; one partition keeps a read to one task."""
        if self._snapshot is None:
            pdf = pd.DataFrame([(k, *r) for k, r in self._rows.items()],
                               columns=_STATE_SCHEMA.fieldNames())
            self._snapshot = self.spark.createDataFrame(pdf, _STATE_SCHEMA).coalesce(1)
        return self._snapshot

    # -- /GeoHash/Add/ ------------------------------------------------
    def add(self, msisdn: str, latitude: float, longitude: float, time: int) -> str:
        if not msisdn or latitude == 0.0 or longitude == 0.0 or time == 0:
            return '{"error":"1"}'
        old = self._rows.get(msisdn)
        if old is None and len(self._rows) >= self.capacity:
            return '{"error":"2"}'  # pool exhausted (AddPos false)
        self._seq += 1
        # LWW on ts; an equal ts goes to this (newer) request
        if old is None or time >= old[2]:
            cell = str(gh.encode_ref(latitude, longitude, gh.GEO_PRECISION_BITS)[0])
            self._rows[msisdn] = (float(latitude), float(longitude), int(time),
                                  self._seq, cell)
            self._snapshot = None
        return '{"success":"0"}'

    # -- /GeoHash/Search/ ----------------------------------------------
    def search(self, latitude: float, longitude: float, radius: float) -> str:
        if latitude == 0.0 or longitude == 0.0 or radius == 0.0:
            return '{"error":"1"}'
        found = engine.radius_search_compat(self.state, latitude, longitude, radius)
        # FIFO posting order; sorted here, not by a Spark orderBy, whose
        # range partitioning would add a sampling job and a shuffle
        rows = sorted(found.collect(), key=lambda r: r["seq"])
        body = ",".join(_ROW % (r["msisdn"], r["lat"], r["lon"], r["ts"]) for r in rows)
        return "{" + (body + "}" if rows else "")

    # -- /GeoHash/Delete/ ----------------------------------------------
    def delete(self, msisdn: str) -> str:
        if not msisdn:
            return '{"error":"1"}'
        if self._rows.pop(msisdn, None) is None:
            return '{"error":"2"}'  # DelPos false on missing key
        self._snapshot = None
        return '{"success":"0"}'

    # -- /GeoHash/Pool/ ------------------------------------------------
    def pool(self) -> str:
        st = engine.pool_state(self.state).collect()[0]
        cap = self.capacity
        return ("{" + _POOL % ("Pos_Pool", st["pos_used"], cap - st["pos_used"], cap)
                + "," + _POOL % ("Area_Pool", st["area_used"], cap - st["area_used"], cap)
                + "," + _POOL % ("PosLink_Pool", st["link_used"], cap - st["link_used"], cap)
                + "}")
