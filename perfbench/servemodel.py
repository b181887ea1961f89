"""Pure-Python model of the four reference endpoints, built on the
kernel's reference-exact ``*_ref`` functions.

``serve`` checks every ``geotile.service.GeoService`` response against
this model byte for byte.  The model keeps one row per subscriber in a
dict and applies the same rules the endpoints document: request
validation, last-write-wins on ``time`` with ties going to the newer
request, 12-bit reference cells, the reference's candidate-cell scan and
distance formula, rows in insertion order, and the fixed pool capacity.
"""

from __future__ import annotations

import numpy as np

from geotile.kernel import geohash_np as gh

_ROW = '"Msisdn":"%s","Latitude":"%f","Longitude":"%f","CurrTime":"%ld"'
_POOL = '"PoolName":"%s","Used":"%d","Free":"%d","All":"%d"'


class EndpointModel:
    def __init__(self, capacity: int):
        self.capacity = capacity
        self.seq = 0
        # msisdn -> (lat, lon, time, seq, cell)
        self.rows: dict[str, tuple[float, float, int, int, str]] = {}

    def add(self, msisdn: str, lat: float, lon: float, time: int) -> str:
        if not msisdn or lat == 0.0 or lon == 0.0 or time == 0:
            return '{"error":"1"}'
        if len(self.rows) >= self.capacity:
            return '{"error":"2"}'
        self.seq += 1
        old = self.rows.get(msisdn)
        if old is None or time >= old[2]:
            cell = str(gh.encode_ref(lat, lon, gh.GEO_PRECISION_BITS)[0])
            self.rows[msisdn] = (float(lat), float(lon), int(time), self.seq, cell)
        return '{"success":"0"}'

    def search(self, lat: float, lon: float, radius: float) -> str:
        if lat == 0.0 or lon == 0.0 or radius == 0.0:
            return '{"error":"1"}'
        cells = set(gh.candidate_cells_ref(lat, lon, radius))
        cand = [(k, r) for k, r in self.rows.items() if r[4] in cells]
        if cand:
            d = gh.distance_ref(np.full(len(cand), lat), np.full(len(cand), lon),
                                np.array([r[0] for _, r in cand]),
                                np.array([r[1] for _, r in cand]))
            cand = [c for c, dist in zip(cand, d) if dist <= radius]
        cand.sort(key=lambda kr: kr[1][3])
        body = ",".join(_ROW % (k, r[0], r[1], r[2]) for k, r in cand)
        return "{" + (body + "}" if cand else "")

    def candidates(self, lat: float, lon: float, radius: float) -> int:
        """Rows inside the candidate cells of a search (before refine)."""
        cells = set(gh.candidate_cells_ref(lat, lon, radius))
        return sum(1 for r in self.rows.values() if r[4] in cells)

    def delete(self, msisdn: str) -> str:
        if not msisdn:
            return '{"error":"1"}'
        if msisdn not in self.rows:
            return '{"error":"2"}'
        del self.rows[msisdn]
        return '{"success":"0"}'

    def pool(self) -> str:
        used = len(self.rows)
        cells = len({r[4] for r in self.rows.values()})
        cap = self.capacity
        return ("{" + _POOL % ("Pos_Pool", used, cap - used, cap)
                + "," + _POOL % ("Area_Pool", cells, cap - cells, cap)
                + "," + _POOL % ("PosLink_Pool", used, cap - used, cap) + "}")
