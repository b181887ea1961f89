"""The workloads: set-up, the timed loop, the output checks and the
per-layer numbers of a traced run.

Every input comes from the seed: pages are ``geotile.synth.synth_pages_pd``
over page ids offset by the seed, and endpoint requests and check samples
come from ``random.Random(seed)``.  Each workload times calls into
geotile's public functions; in a traced run it also wraps each call in a
span and a Spark job group (see ``sparkstat``) and measures the kernels
and extractors single-threaded on its own inputs.

An op is the workload's unit of work: one pipeline pass (pipeline) or
one endpoint call (serve).  Each run starts a fresh driver, so the
first pipeline pass pays the JVM's code generation and JIT warm-up, as
a batch user's run does.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import time

import numpy as np

from perfbench import procfs

CORES = len(os.sched_getaffinity(0))
PID = os.getpid()   # the driver process; its tree holds the JVM and the workers
PAGE_PARTITIONS = 8

# a cold pass took about 22 s at both 40k and 80k pages (per-job and
# per-task cost dominate it), so the larger size adds real work without
# lengthening a run much; set-up plus the pass stays under a minute
PIPELINE_PAGES = 80_000
SERVE_PAGES = 3_000

POI_RADIUS_M = 50_000.0          # pipeline.stage_join's default
SERVE_SUBSCRIBERS = 64
SERVE_SESSION_OPS = 240
# every run completes at least this many session ops, the window closed
# or not: the first ten hold six Adds, two Searches, a Pool and a Delete.
# A fixed set of ops keeps the latency and throughput figures comparable
# from run to run; the ops that finish after the window still count in
# failed_frac.
SERVE_MIN_OPS = 10
# set-up's throwaway session: two Adds, a Search, two Adds and a Pool
SERVE_WARM_OPS = 6
# one cycle of the endpoint mix: Add-heavy, Search/Pool/Delete interleaved
SERVE_CYCLE = ("add", "add", "search", "add", "add", "pool", "add", "delete",
               "add", "search", "add", "add", "add", "search", "delete", "add",
               "pool", "add", "search", "add")
# the traced pipeline run's eps join: 500 m and 1 day at spacetime_join's
# default 2-char cells, checked on 40 seeded A rows
EPS_M = 500.0
EPS_TAU_S = 86_400
EPS_NCHARS = 2
EPS_SAMPLE = 40
SPARK_KEYS = ("jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s", "shuffle_read_b",
              "shuffle_write_b", "spill_b", "input_rows", "shuffle_s", "job_tax_s", "jobs_s",
              "max_task_over_median")


def page_ids(seed: int, n: int) -> np.ndarray:
    return (seed % 1_000_000) * 10_000_000 + np.arange(n, dtype=np.int64)


def layer_names() -> list[str]:
    """The per-layer metric names, from the benchmark's BENCHMARK.json."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return [m["name"] for m in json.load(f)["per_layer"]]


def _rate(fn, rows: int, min_s: float = 0.2) -> float:
    """Rows per second of ``fn`` on ``rows`` rows, repeated for >= min_s."""
    fn()
    reps, t0 = 0, time.perf_counter()
    while True:
        fn()
        reps += 1
        el = time.perf_counter() - t0
        if el >= min_s:
            return rows * reps / el


def _dir_bytes_files(path: str) -> tuple[int, int]:
    nbytes = nfiles = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                nbytes += os.path.getsize(os.path.join(root, f))
                nfiles += 1
    return nbytes, nfiles


class Workload:
    name = ""
    closed_loop = False   # rate over the loop's wall, not over op walls

    def __init__(self, seed, seconds, trace, rundir, tracer, oplog):
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.rundir = rundir
        self.tracer = tracer
        self.oplog = oplog
        self.rng = random.Random(seed)
        self.planned = None      # set when the op count is fixed up front
        self.layers: dict[str, float] = {}
        self.samples: dict[str, list[float]] = {}   # per-op layer values
        self.op_stats: list[dict] = []
        self.op_ms: list[float] = []
        self.spark = None
        self.status = None
        self._cur: list[tuple[str, dict]] = []

    def setup(self) -> None:
        raise NotImplementedError

    def run(self) -> None:
        raise NotImplementedError

    # -- shared set-up --------------------------------------------------
    def start_spark(self) -> None:
        from geotile.session import get_spark

        self.spark = get_spark(f"perfbench-{self.name}", cores=CORES)
        if self.trace:
            from perfbench.sparkstat import StatusReader

            self.status = StatusReader(self.spark)

    def write_pages(self, workdir: str, n: int) -> str:
        """The seed's pages as a stored stage that ``pipeline.stage_points``
        reads (the role ``pipeline.stage_pages`` plays for page ids 0..n)."""
        from geotile import synth, table

        ids0 = int(page_ids(self.seed, 1)[0])

        def _gen(batches):
            for pdf in batches:
                yield synth.synth_pages_pd(pdf["id"].to_numpy())

        path = os.path.join(workdir, "pages")
        df = self.spark.range(ids0, ids0 + n, 1, PAGE_PARTITIONS).mapInPandas(
            _gen, schema=synth.PAGES_SCHEMA)
        table.write_stage(df, path, params={"n": n, "first_id": ids0})
        return path

    # -- timing and tracing -----------------------------------------------
    def timed(self, name: str, fn):
        """Run ``fn`` as one layer call: a span, and a job group whose
        status-store totals join the current op's stats."""
        group = self.status.begin(name) if self.status else None
        with self.tracer.span(name) as counters:
            t0 = time.perf_counter()
            try:
                out = fn()
            finally:
                wall = time.perf_counter() - t0
                if self.status:
                    self.status.end()
        if self.status:
            counters.update(self.status.read(group, wall))
            self._cur.append((name, counters))
        return out, wall

    def begin_op(self) -> None:
        self._cur = []

    def end_op(self, wall_s: float) -> dict:
        """Sum of the op's call stats (traced runs)."""
        tot: dict[str, float] = {}
        for _name, st in self._cur:
            for k, v in st.items():
                if k == "stage_list":
                    continue
                tot[k] = max(tot.get(k, 0.0), v) if k == "max_task_over_median" \
                    else tot.get(k, 0) + v
        self.op_stats.append(tot)
        self.op_ms.append(wall_s * 1e3)
        return tot

    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def probe_layers(self, lat, lon, html, text, covers) -> None:
        """Single-threaded kernel and extractor rates on this workload's
        own points and pages, and the engine's cover time per query."""
        import pandas as pd

        from geotile import engine, extract
        from geotile.kernel import geohash_np as gh
        from geotile.kernel import s2_np, tiles_np

        n = len(lat)
        lat2, lon2 = np.roll(lat, 1), np.roll(lon, 1)
        L = self.layers
        L["kernel.geohash_encode_rows_per_s"] = _rate(lambda: gh.encode(lat, lon, 5), n)
        L["kernel.s2_cell_rows_per_s"] = _rate(lambda: s2_np.cell_id(lat, lon, 10), n)
        L["kernel.tile_xy_rows_per_s"] = _rate(lambda: tiles_np.tile_xy(lat, lon, 12), n)
        L["kernel.haversine_rows_per_s"] = _rate(
            lambda: gh.haversine_m(lat, lon, lat2, lon2), n)
        ms, cells = [], []
        for qlat, qlon, r in covers:
            t0 = time.perf_counter()
            _n, c = engine._fit_cover_radius(qlat, qlon, r, engine.DEFAULT_NCHARS)
            ms.append((time.perf_counter() - t0) * 1e3)
            cells.append(len(c))
        L["kernel.cover_ms"] = statistics.median(ms)
        L["engine.cover_cells"] = float(statistics.median(cells))
        html = pd.Series(html[:5000], dtype=object)
        text = pd.Series(text[:5000], dtype=object)
        L["extract.text_rows_per_s"] = _rate(lambda: extract.extract_text_pd(html), len(html))
        L["extract.mentions_rows_per_s"] = _rate(
            lambda: extract.parse_mentions_pd(text), len(text))

    def points_share(self, pages: int, points: int, exec_cpu_s: float) -> float:
        """1 - (single-thread extract + kernel seconds for the points
        stage's rows) / (executor CPU seconds of the points stage)."""
        L = self.layers
        single = (pages / L["extract.text_rows_per_s"]
                  + pages / L["extract.mentions_rows_per_s"]
                  + points * (1 / L["kernel.geohash_encode_rows_per_s"]
                              + 1 / L["kernel.s2_cell_rows_per_s"]
                              + 1 / L["kernel.tile_xy_rows_per_s"]))
        return 1.0 - single / exec_cpu_s if exec_cpu_s > 0 else 0.0

    def layer_metrics(self) -> dict:
        """Every per-layer metric; a layer the workload never calls reads 0.
        Per-op values are medians over the run's ops."""
        # failed_frac and process.* come from the harness (run.py)
        out = {k: 0.0 for k in layer_names()
               if k != "failed_frac" and not k.startswith("process.")}
        if self.op_stats:
            for k in SPARK_KEYS:
                out["spark." + k] = statistics.median(o.get(k, 0) for o in self.op_stats)
            out["trace.op_p50_ms"] = statistics.median(self.op_ms)
            out["trace.bench_self_ms"] = (
                self.tracer.self_seconds().get("op", 0.0) * 1e3 / len(self.op_ms))
        out.update(self.layers)
        out.update({k: statistics.median(v) for k, v in self.samples.items()})
        return {k: float(v) for k, v in out.items()}


# ---------------------------------------------------------------------------
# pipeline
# ---------------------------------------------------------------------------


class Pipeline(Workload):
    """pages -> points -> join -> rollup -> store, one pass per op."""

    name = "pipeline"
    STAGES = (("points", "stage_points"), ("join", "stage_join"),
              ("rollup", "stage_rollup"), ("store", "stage_store"))

    def setup(self) -> None:
        import pyarrow.dataset as ds

        from geotile import engine, extract, synth

        self.start_spark()
        self.workdir = os.path.join(self.rundir, "work")
        self.n = PIPELINE_PAGES
        pages = ds.dataset(self.write_pages(self.workdir, self.n))
        # the expected totals, from the generated pages read back by pandas
        pdf = pages.to_table(columns=["url", "text"]).to_pandas()
        m = extract.parse_mentions_pd(pdf["text"])
        self.expected_points = len(m)
        self.expected_urls = int(pdf["url"].iloc[m["row_idx"]].nunique())
        if self.trace:
            covers = [(la, lo, POI_RADIUS_M) for _n, la, lo in synth.CITIES]
            head = pages.head(5000, columns=["html", "text"]).to_pandas()
            self.probe_layers(m["lat"].to_numpy(), m["lon"].to_numpy(),
                              head["html"].tolist(), head["text"].tolist(), covers)
            # the POI join broadcasts every query's cover at once
            self.layers["engine.cover_cells"] = float(sum(
                len(engine._fit_cover_radius(la, lo, r, engine.DEFAULT_NCHARS)[1])
                for la, lo, r in covers))

    def _pass(self) -> dict:
        from geotile import pipeline

        for d in ("points", "joined", "rollup", "store"):
            shutil.rmtree(os.path.join(self.workdir, d), ignore_errors=True)
        t = {}
        for st, fn in self.STAGES:
            _, t[st] = self.timed("stage." + st,
                                  lambda fn=fn: getattr(pipeline, fn)(self.spark, self.workdir))
        return t

    def check(self) -> bool:
        """Rollup sum = points rows = manifest totals = mentions in the
        pages; every join distance within the radius; store rows =
        distinct urls with a mention."""
        import pyarrow.compute as pc
        import pyarrow.dataset as ds

        from geotile import table

        def path(d):
            return os.path.join(self.workdir, d)

        m_points = table.read_manifest(path("points"))["total_rows"]
        m_joined = table.read_manifest(path("joined"))["total_rows"]
        m_store = table.read_manifest(path("store"))["total_rows"]
        urls = ds.dataset(path("points"), partitioning="hive").to_table(columns=["url"])["url"]
        n_roll = pc.sum(ds.dataset(path("rollup")).to_table(columns=["n"])["n"]).as_py()
        dist = ds.dataset(path("joined")).to_table(columns=["dist_m"])["dist_m"]
        return (m_points == len(urls) == n_roll == self.expected_points
                and len(dist) == m_joined
                and (pc.max(dist).as_py() or 0.0) <= POI_RADIUS_M
                and m_store == pc.count_distinct(urls).as_py() == self.expected_urls)

    def run(self) -> None:
        t_start = time.perf_counter()
        while time.perf_counter() - t_start < self.seconds:
            self.begin_op()
            with self.tracer.span("op"):
                c0 = procfs.tree_cpu_s(PID)
                t0 = time.perf_counter()
                t = self._pass()
                wall = time.perf_counter() - t0
                cpu = procfs.tree_cpu_s(PID) - c0
            ok = self.check()
            self.oplog.write(t="op", kind="pass", ms=wall * 1e3, cpu_s=cpu, ok=ok,
                             wrong=not ok, items=self.n, busy_s=t["points"] + t["join"] + t["rollup"],
                             t_s=time.perf_counter() - t_start)
            if self.trace:
                self._trace_op(t, wall)

    def _trace_op(self, t: dict, wall: float) -> None:
        from geotile import engine, synth, table

        points_stats = self._cur[0][1]
        st = self.end_op(wall)
        for k, v in t.items():
            self.sample(f"stage.{k}_s", v)
        pts = table.read_manifest(os.path.join(self.workdir, "points"))["total_rows"]
        self.sample("boundary.points_share",
                    self.points_share(self.n, pts, points_stats["exec_cpu_s"]))
        self.sample("engine.rows_examined_per_result", st["input_rows"] / max(pts, 1))
        nb = nf = 0
        dirs = [os.path.join(self.workdir, d) for d in ("points", "joined", "rollup")]
        wh = os.path.join(self.rundir, "spark-warehouse")
        dirs += [os.path.join(wh, d) for d in os.listdir(wh)]
        for d in dirs:
            b, f = _dir_bytes_files(d)
            nb, nf = nb + b, nf + f
            if d == dirs[0]:
                self.sample("table.points_bytes_per_row", b / max(pts, 1))
        self.sample("table.bytes_written", nb)
        self.sample("table.files_written", nf)
        if "engine.refine_ratio" not in self.layers:
            qrows = [(i, la, lo, POI_RADIUS_M) for i, (_n, la, lo) in enumerate(synth.CITIES)]
            sel = engine.radius_cover_selectivity(
                table.read_stage(self.spark, dirs[0]), qrows).collect()
            self.layers["engine.refine_ratio"] = (
                sum(r["n_refined"] for r in sel) / max(sum(r["n_candidates"] for r in sel), 1))
            self._eps_probe(dirs[0])

    def _eps_probe(self, path: str) -> None:
        """The both-sides-large eps join, ``engine.spacetime_join``, between
        the two halves (by url hash) of the pass's points table: its plan
        and collect walls, its eps-cover replication and candidates, and
        a check of its pairs for seeded A rows against a numpy brute
        force over all of B.  This is the only path through the eps-cover
        replication; the pass's broadcast ``radius_join`` bypasses it."""
        from pyspark.sql import functions as F

        from geotile import engine, table, udfs
        from geotile.kernel import geohash_np as gh

        p = table.read_stage(self.spark, path).select(
            F.xxhash64("url", "lat", "lon").alias("id"),
            F.unix_seconds("warc_ts").alias("ep"), "lat", "lon",
            (F.pmod(F.xxhash64("url"), F.lit(2)) == 0).alias("_a"))
        a = p.where("_a").select(F.col("id").alias("a_id"), "ep", "lat", "lon")
        b = p.where("NOT _a").select(F.col("id").alias("b_id"), "ep", "lat", "lon")
        both = p.toPandas()
        pa = both[both["_a"]].rename(columns={"id": "a_id"}).reset_index(drop=True)
        pb = both[~both["_a"]].rename(columns={"id": "b_id"}).reset_index(drop=True)
        sample = pa.iloc[self.rng.sample(range(len(pa)), min(EPS_SAMPLE, len(pa)))]
        self.begin_op()
        df, t_plan = self.timed("engine.spacetime_join", lambda: engine.spacetime_join(
            a, b, EPS_M, EPS_TAU_S, nchars=EPS_NCHARS))
        rows, t_exec = self.timed("engine.collect", df.collect)
        ids = set(sample["a_id"].tolist())
        got = {(r["a_id"], r["b_id"], r["dt_s"]) for r in rows if r["a_id"] in ids}
        self.oplog.write(t="check", name="eps_join", ok=got == _eps_pairs(sample, pb))
        # A rows after the eps-cover x time-bucket explode, and the
        # equi-join candidates the haversine refine then filters
        cov = a.select("ep", F.explode(udfs.eps_cover_cells_udf(EPS_NCHARS, EPS_M)(
            "lat", "lon")).alias("cell")).toPandas()
        bkey = (gh.encode(pb["lat"].to_numpy(), pb["lon"].to_numpy(), EPS_NCHARS).astype(object)
                + ":" + (pb["ep"] // EPS_TAU_S).astype(str).to_numpy().astype(object))
        counts = dict(zip(*np.unique(bkey.astype(str), return_counts=True)))
        tb = (cov["ep"] // EPS_TAU_S).to_numpy()
        cells = cov["cell"].to_numpy().astype(object)
        candidates = sum(counts.get(k, 0) for off in (-1, 0, 1)
                         for k in cells + ":" + (tb + off).astype(str).astype(object))
        self.layers.update({
            "engine.plan_ms": t_plan * 1e3, "engine.exec_ms": t_exec * 1e3,
            "engine.replication_factor": 3.0 * len(cov) / max(len(pa), 1),
            "engine.candidates_per_pair": candidates / max(len(rows), 1)})


def _eps_pairs(sample, pb) -> set:
    """(a_id, b_id, dt_s) of every eps-join pair of the sampled A rows, by
    a numpy haversine over all of B."""
    from geotile.kernel import geohash_np as gh

    out = set()
    blat, blon = pb["lat"].to_numpy(), pb["lon"].to_numpy()
    bep, bid = pb["ep"].to_numpy(), pb["b_id"].to_numpy()
    for r in sample.itertuples():
        d = gh.haversine_m(np.full(len(blat), r.lat), np.full(len(blat), r.lon), blat, blon)
        dt = bep - r.ep
        hit = (d <= EPS_M) & (np.abs(dt) <= EPS_TAU_S)
        out.update((int(r.a_id), int(b), int(t)) for b, t in zip(bid[hit], dt[hit]))
    return out


# ---------------------------------------------------------------------------
# serve
# ---------------------------------------------------------------------------


class Serve(Workload):
    """Closed loop, one client: the reference's endpoint mix through
    ``geotile.service.GeoService``, each response checked byte for byte
    against ``servemodel.EndpointModel``.  The session is planned up
    front; ops not finished within the window count in ``failed_frac``."""

    name = "serve"
    closed_loop = True

    def setup(self) -> None:
        from geotile import extract, synth
        from geotile.kernel import geohash_np as gh
        from geotile.service import GeoService
        from perfbench.servemodel import EndpointModel

        self.start_spark()
        pdf = synth.synth_pages_pd(page_ids(self.seed, SERVE_PAGES))
        m = extract.parse_mentions_pd(pdf["text"].reset_index(drop=True))
        coords = list(zip(m["lat"].tolist(), m["lon"].tolist()))
        # a throwaway session of the same shape on other keys compiles the
        # endpoint paths for the plan sizes the timed ops meet
        warm = GeoService(self.spark)
        for kind, args in self._plan(random.Random(f"warm-{self.seed}"), coords, SERVE_WARM_OPS):
            getattr(warm, kind)(*args)
        self.plan = self._plan(self.rng, coords, SERVE_SESSION_OPS)
        self.planned = len(self.plan)
        self.svc = GeoService(self.spark)
        self.model = EndpointModel(self.svc.capacity)
        self._n_res = self._n_cand = 0
        self._first_failed = 0
        if self.trace:
            covers = [a for k, a in self.plan if k == "search"][:50]
            self.probe_layers(m["lat"].to_numpy(), m["lon"].to_numpy(),
                              pdf["html"].tolist(), pdf["text"].tolist(), covers)
            self.layers["engine.cover_cells"] = float(statistics.median(
                len(gh.candidate_cells_ref(*a)) for a in covers))

    @staticmethod
    def _plan(rng: random.Random, coords: list, n_ops: int) -> list:
        """``n_ops`` endpoint calls over SERVE_SUBSCRIBERS keys drawn from ``rng``."""
        from geotile.kernel import geohash_np as gh

        keys = [f"139{rng.randrange(10**8):08d}" for _ in range(SERVE_SUBSCRIBERS)]
        plan = []
        ts = 1_600_000_000
        for i in range(n_ops):
            kind = SERVE_CYCLE[i % len(SERVE_CYCLE)]
            ts += rng.randrange(1, 60)
            if kind == "add":
                lat, lon = rng.choice(coords)
                # one add in ten carries an older time and must lose LWW
                t = ts - 3_600 if rng.random() < 0.1 else ts
                plan.append(("add", (rng.choice(keys), lat, lon, t)))
            elif kind == "search":
                # centres whose reference cell scan yields a cell, so every
                # search probes the index (about half of all centres do not)
                while True:
                    lat, lon = rng.choice(coords)
                    r = rng.choice((500.0, 2_000.0))
                    if gh.candidate_cells_ref(lat, lon, r):
                        break
                plan.append(("search", (lat, lon, r)))
            elif kind == "delete":
                plan.append(("delete", (rng.choice(keys),)))
            else:
                plan.append(("pool", ()))
        return plan

    def run(self) -> None:
        t_start = time.perf_counter()
        for i, (kind, args) in enumerate(self.plan):
            if i >= SERVE_MIN_OPS and time.perf_counter() - t_start >= self.seconds:
                break
            self.begin_op()
            with self.tracer.span("op"):
                c0 = procfs.tree_cpu_s(PID)
                t0 = time.perf_counter()
                got, _ = self.timed("service." + kind,
                                    lambda: getattr(self.svc, kind)(*args))
                wall = time.perf_counter() - t0
                cpu = procfs.tree_cpu_s(PID) - c0
            t_done = time.perf_counter() - t_start
            want = getattr(self.model, kind)(*args)
            ok = got == want and t_done <= self.seconds
            if not ok and not self._first_failed:
                self._first_failed = i + 1
            self.oplog.write(t="op", kind=kind, ms=wall * 1e3, cpu_s=cpu, ok=ok,
                             wrong=got != want, items=1, busy_s=wall, t_s=t_done)
            if self.trace:
                self.end_op(wall)
                self.sample(f"service.{kind}_ms", wall * 1e3)
                if kind == "search":
                    self._n_res += got.count('"Msisdn"')
                    self._n_cand += self.model.candidates(*args)
                plan = self.svc.state._jdf.queryExecution().optimizedPlan()
                lines = plan.toString().count("\n") + 1
                self.layers["service.plan_lines"] = lines
                self.oplog.write(t="plan", op=i + 1, lines=lines)

    def layer_metrics(self) -> dict:
        n_done = len(self.op_ms)
        self.layers["service.first_failed_op"] = self._first_failed or (
            n_done + 1 if n_done < self.planned else 0)
        self.layers["engine.refine_ratio"] = self._n_res / max(self._n_cand, 1)
        if self.op_stats:
            self.layers["engine.rows_examined_per_result"] = (
                sum(o.get("input_rows", 0) for o in self.op_stats) / max(self._n_res, 1))
            self.layers["service.jobs_per_op"] = (
                sum(o.get("jobs", 0) for o in self.op_stats) / len(self.op_stats))
        return super().layer_metrics()


WORKLOADS = {w.name: w for w in (Pipeline, Serve)}
