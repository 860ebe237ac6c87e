"""The benchmark's workloads: inputs made from a seed, the timed job, an
output check that does not use the code under test, the plan guard, and the
prefix cuts a traced run uses to split the job into layers.

Layer names are the engine's module names (``pbf``, ``dsl``, ``denorm``,
``relations``, ``enrich``, ``engine``, ``pages``, ``cells``, ``spatial``,
``checkpoint``). Spark is lazy and codegen fuses layers, so a layer's time
is not a span around its function: a cut materializes the job's prefix up
to and including layer L with the ``noop`` sink, and the layer's self time
is prefix(L) - prefix(L-1). The last prefix is the whole job: the untraced job
itself, so the self times telescope to its wall.

``WORKLOADS`` maps each timed workload to its class, followed by the
companion workloads its traced run also runs (see run.py).
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import random
import shutil
import statistics
import sys

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pbf2json_spark import cells, denorm, dsl, enrich, pbf, spatial
from pbf2json_spark import pages as pages_mod
from pbf2json_spark import relations as rel_mod
from pbf2json_spark.checkpoint import CheckpointManager, run_stages
from pbf2json_spark.engine import Engine

from sparkstats import metric_sum, root_rows
from tracing import Tracer, telescope, timed


TRACE_ROUNDS = 3


def noop(df: DataFrame) -> None:
    """Full-output sink: every row of every column is produced, nothing is
    written, and Catalyst cannot prune an operator the way count(1) lets it."""
    df.write.format("noop").mode("overwrite").save()


def _plan_text(df: DataFrame) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


class Workload:
    """One workload bound to a session, a seed and a private work dir."""

    name = ""
    items = 0  # input entities (osm) or pages, for items_per_s
    job_layer = ""  # the layer whose prefix is the whole job
    warmups = 0  # untimed jobs after the cold one, before the timed loop
    # traced once, with no untraced twin: a companion whose job is too long
    # to run more often within the 180 s a run may take
    one_shot = False

    def __init__(self, spark, seed: int, work: str, counters) -> None:
        self.spark = spark
        self.seed = seed
        self.work = work
        self.counters = counters
        self.attempted = self.failed = 0

    def materialize(self) -> None:
        """Write the inputs for this seed (set-up, never timed as a job)."""
        raise NotImplementedError

    def prepare(self) -> None:
        """Compute the expected output independently of the engine."""
        raise NotImplementedError

    def guard(self) -> list[str]:
        """Operators that must survive in the job's optimized plan and do
        not (called after the first job)."""
        raise NotImplementedError

    def job(self, tr):
        """Run the job once, forcing its full output; return what check()
        needs."""
        raise NotImplementedError

    def check(self, out) -> bool:
        raise NotImplementedError

    def reset(self) -> None:
        """Untimed clean-up between jobs."""
        self.spark.catalog.clearCache()

    def run_job(self, tr) -> float:
        """Reset, run and check one job; return its wall."""
        self.reset()
        wall, out = timed(lambda: self.job(tr))
        self.attempted += 1
        self.failed += not self.check(out)
        return wall

    def traced(self) -> tuple[dict, dict, dict]:
        """TRACE_ROUNDS rounds (one if one_shot) of the prefix cuts, an
        untraced job and a traced job; medians throughout. Cuts and jobs
        share each round, so JIT warm-up over the rounds does not favour one
        over the other, and on a companion, which has no warm-up jobs, the
        cuts are its warm-up. The whole-job prefix is the untraced job; a
        one-shot workload has none and takes the traced wall minus the
        tracer's own measured bookkeeping.

        The self times telescope to the untraced wall, so they are checked
        against the traced wall, measured apart from the cuts: a negative
        self time (a prefix slower than a longer one) is counted, and
        counts as 0 in the sum that reconciles with the traced wall.

        Returns (job stats, layer metrics, trace record)."""
        sc = self.spark.sparkContext
        cut_tr = Tracer(True)
        cuts = self.cuts(cut_tr)
        cut_walls: dict[str, list[float]] = {layer: [] for layer, _ in cuts}
        untraced_walls, traced_walls = [], []
        for i in range(1 if self.one_shot else TRACE_ROUNDS):
            sc.setJobGroup(f"perfbench-{self.name}-cuts", "prefix cuts")
            for layer, fn in cuts:
                self.reset()
                with cut_tr.span("cut", layer=layer):
                    cut_walls[layer].append(timed(fn)[0])
            if not self.one_shot:
                untraced_walls.append(self.run_job(Tracer(False)))
            job_tr = Tracer(True)
            group = f"perfbench-{self.name}-traced-{i}"
            sc.setJobGroup(group, "traced job")
            first = self.counters.next_execution_id()
            traced_walls.append(self.run_job(job_tr))
            if self.one_shot:
                untraced_walls.append(traced_walls[-1] - job_tr.bookkeeping_s)
        walls = {layer: statistics.median(runs) for layer, runs in cut_walls.items()}
        job_execs = self.counters.executions(first)
        walls[self.job_layer] = statistics.median(untraced_walls)
        layer_self = telescope(walls)
        wall = statistics.median(traced_walls)
        negative = [layer for layer, s in layer_self.items() if s < 0]
        if negative:
            print(f"perfbench: {self.name} negative self time in {negative}", file=sys.stderr)
        stats = {
            "wall_s": wall,
            "overhead_s": wall - walls[self.job_layer],
            "reconcile_err": abs(sum(max(s, 0.0) for s in layer_self.values()) - wall) / wall,
            "negative_layers": len(negative),
            **self.counters.job_counts(group),
            "shuffle_bytes": metric_sum(job_execs, "Exchange", "shuffle bytes written"),
            "spill_bytes": metric_sum(job_execs, "", "spill size"),
        }
        trace = {
            "workload": self.name,
            "seed": self.seed,
            "untraced_walls_s": untraced_walls,
            "traced_walls_s": traced_walls,
            "cut_walls_s": walls,
            "layer_self_s": layer_self,
            "stats": stats,
            "job_spans": job_tr.spans,
            "cut_spans": cut_tr.spans,
        }
        return stats, self.layer_metrics(job_tr, cut_tr, layer_self, job_execs), trace

    cut_layers: tuple[str, ...] = ()  # layers cut before job_layer, in order

    def _frames(self, tr):
        """Yield (layer, frames) in job order, building each layer on the
        frames before it."""
        raise NotImplementedError

    def cuts(self, tr) -> list[tuple[str, callable]]:
        """(layer, materialize the job's prefix up to that layer) for each of
        cut_layers. Only the prefix's frontier, the layer's own frames, is
        written; the layers before it run as its inputs."""
        self._own: dict[str, tuple[int, int]] = {}
        self._frame_walls: list[float] = []

        def prefix(upto: str):
            def run():
                for layer, frames in self._frames(tr):
                    if layer == upto:
                        first = self.counters.next_execution_id()
                        self._frame_walls = [timed(lambda df=df: noop(df))[0] for df in frames]
                        self._own[layer] = (first, self.counters.next_execution_id())
                        return
            return run

        return [(layer, prefix(layer)) for layer in self.cut_layers]

    def own(self, layer: str) -> list:
        """SQL executions of the layer's own frames in its cut."""
        return self.counters.executions(*self._own[layer])

    def layer_metrics(self, job_tr, cut_tr, cut_self, job_execs) -> dict:
        """Per-layer metrics from the traced job's spans and executions and
        from the cuts' self times."""
        raise NotImplementedError


def _missing(plan: str, required: list[str]) -> list[str]:
    return [op for op in required if op not in plan]


# ---------------------------------------------------------------------------
# osm_json: PBF → tag filter → denormalization → JSON-lines
# ---------------------------------------------------------------------------

AMENITIES = ["toilets", "cafe", "bench", "parking", "school", "bank", "fuel"]
HIGHWAYS = ["residential", "primary", "secondary", "footway", "service"]
QUERY = "amenity~toilets"


def osm_entities(seed: int, n_nodes: int, n_ways: int, n_rels: int):
    """A seeded planet slice shaped like tools/make_pbf.py's fixture: ~1 in 13
    nodes tagged (amenity, name, address), every way a named 5-node highway
    chain, ~1 in 29 ways also amenity=toilets, relations over way refs."""
    rng = random.Random(seed)
    nodes = []
    for i in range(1, n_nodes + 1):
        lat = rng.randrange(-85_000_000, 85_000_000) / 1e6
        lon = rng.randrange(-175_000_000, 175_000_000) / 1e6
        tags = {}
        if rng.randrange(13) == 0:
            h = "%016x" % rng.getrandbits(64)
            tags = {
                "amenity": rng.choice(AMENITIES),
                "name": f"poi {i} {h[:12]}",
                "addr:street": f"{h[12:]} street",
                "addr:housenumber": str(rng.randrange(300)),
            }
        nodes.append((i, lat, lon, tags))
    ways = []
    for w in range(1, n_ways + 1):
        start = rng.randrange(1, n_nodes - 5)
        tags = {
            "highway": rng.choice(HIGHWAYS),
            "name": "way %d %012x" % (w, rng.getrandbits(48)),
        }
        if rng.randrange(29) == 0:
            tags["amenity"] = "toilets"
        ways.append((10_000_000 + w, tags, [start + j for j in range(5)]))
    rels = []
    for r in range(1, n_rels + 1):
        rels.append((
            20_000_000 + r,
            {"type": "multipolygon", "name": f"rel {r}"},
            [
                (10_000_000 + rng.randrange(1, n_ways + 1), "way", "outer"),
                (10_000_000 + rng.randrange(1, n_ways + 1), "way", "inner"),
            ],
        ))
    return nodes, ways, rels


def osm_digest(rows: list[dict]) -> str:
    """Order-independent digest of JSON-lines records: sha256 over the sorted
    per-record hashes of their canonical (key-sorted) JSON."""
    hs = sorted(
        hashlib.sha256(json.dumps(r, sort_keys=True).encode()).hexdigest()
        for r in rows
    )
    return hashlib.sha256("".join(hs).encode()).hexdigest()


class OsmJson(Workload):
    """The reference's own job: Engine.from_pbf → query("amenity~toilets")
    with the reference's defaults (dictionary and entrances on) →
    combined() → JSON-lines. One job is ~30 s of mostly per-stage overhead
    on any input size, and its wall swings by a third between runs on a
    shared 4-CPU host, so it is not a timed workload: osm_extract's traced
    run runs it once as a companion."""

    name = "osm_json"
    job_layer = "engine"
    # pbf and dsl are cut on osm_extract; here the denorm prefix starts from
    # the file and includes the decode and filter it needs
    cut_layers = ("denorm", "relations", "enrich")
    one_shot = True  # one job is ~30 s
    N_NODES, N_WAYS, N_RELS = 10_000, 1_000, 10
    items = N_NODES + N_WAYS + N_RELS
    PINS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "osm_json_digests.json")

    def __init__(self, *a) -> None:
        super().__init__(*a)
        self.path = os.path.join(self.work, "engine.osm.pbf")
        self.out_dir = os.path.join(self.work, "osm_json_out")
        self.digests: set[str] = set()

    def materialize(self) -> None:
        nodes, ways, rels = osm_entities(self.seed, self.N_NODES, self.N_WAYS, self.N_RELS)
        pbf.write_pbf(self.path, nodes, ways, rels)
        self._entities = (nodes, ways, rels)

    def prepare(self) -> None:
        nodes, ways, rels = self._entities
        self._entities = None
        self.want_nodes = sum(1 for n in nodes if n[3].get("amenity") == "toilets")
        # each way has a unique street name, so every formatted way prints
        # once, as its own one-segment merged street: the matched ways plus
        # the ways relations reference
        self.want_ways = len(
            {w[0] for w in ways if w[1].get("amenity") == "toilets"}
            | {ref for _, _, members in rels for ref, mtype, _ in members if mtype == "way"}
        )
        with open(self.PINS) as f:
            self.pinned = json.load(f).get(str(self.seed))

    def guard(self) -> list[str]:
        # the decode and the street/waterway merge must survive into the plan
        # of the frame the sink wrote
        return _missing(_plan_text(self._combined), ["MapInPandas", "FlatMapGroupsInPandas"])

    def job(self, tr):
        with tr.span("engine.from_pbf"):
            eng = Engine.from_pbf(self.spark, self.path)
        with tr.span("engine.query"):
            res = eng.query(QUERY)
        with tr.span("engine.combined"):
            out = self._combined = res.combined()
        with tr.span("engine.sink"):
            out.write.mode("overwrite").json(self.out_dir)
        return self.out_dir

    def check(self, out) -> bool:
        rows = _read_json_lines(out)
        got_nodes = sum(1 for r in rows if r["type"] == "node")
        got_ways = sum(1 for r in rows if r["type"] == "way")
        digest = osm_digest(rows)
        if digest not in self.digests:
            print(f"perfbench: osm_json seed {self.seed} digest {digest}", file=sys.stderr)
        self.digests.add(digest)
        return (
            got_nodes == self.want_nodes
            and got_ways == self.want_ways
            and len(self.digests) == 1
            and self.pinned in (None, digest)
        )

    def _frames(self, tr):
        """The engine's query, layer by layer, through each layer's public
        functions in Engine.query's order (same persists), so a prefix can
        stop after any layer."""
        with tr.span("pbf.read_pbf"):
            nodes, ways, rels = pbf.read_pbf(self.spark, self.path)
        yield "pbf", [nodes, ways, rels]

        with tr.span("dsl.compile_tags_dsl"):
            pred = dsl.compile_tags_dsl(QUERY, F.col("tags"))
        n = denorm.prepare_nodes(nodes)
        w = denorm.prepare_ways(ways)
        r = rels.select("id", dsl.trim_tags(F.col("tags")).alias("tags"), "members")
        matched = [n.filter(pred), w.filter(pred), r.filter(pred)]
        yield "dsl", matched

        dict_ways = enrich.dictionary_names(w)
        dict_rels = enrich.dictionary_names(r)
        needed = (
            matched[1].select("id")
            .unionByName(dict_ways.filter("is_dict").select("id"))
            .unionByName(
                r.select(F.explode(F.filter(
                    "members", lambda m: m["mtype"] == F.lit("way"))).alias("m"))
                .select(F.col("m.ref").alias("id"))
            )
        )
        with tr.span("denorm.denormalize_ways"):
            d = denorm.denormalize_ways(
                w.join(needed.distinct(), "id", "left_semi"), n).persist()
        fmt = denorm.format_from_denorm(d).persist()
        fmt_out = fmt.drop("pts")
        yield "denorm", [fmt_out]

        with tr.span("relations.resolve_relations"):
            fmt_rels = rel_mod.resolve_relations(r, fmt_out, n).persist()
        yield "relations", [fmt_rels]

        dict_all = dict_ways.unionByName(dict_rels)
        with tr.span("enrich.merge_segments"):
            merged = [
                enrich.merge_segments(dict_all, fmt_out, fmt_rels, c).persist()
                for c in ("street_name", "water_name")
            ]
        transl = enrich.translation_geometry(fmt_out, fmt_rels, dict_all)
        with tr.span("enrich.translate_address"):
            out_nodes = enrich.translate_address(
                matched[0].select("id", F.lit("node").alias("type"), "lat", "lon", "tags"),
                transl,
            )
        yield "enrich", merged + [out_nodes]

    def layer_metrics(self, job_tr, cut_tr, cut_self, job_execs) -> dict:
        merge_ops = self.own("enrich")
        # the enrich frontier is [streets, waterways, translated nodes]: the
        # merges compute the persisted denorm/relations inputs first, the
        # translation then runs on cached inputs, so its frame's wall is its
        # own and the rest of the layer's self time is the merges'
        translate_s = self._frame_walls[2]
        return {
            "pbf.decode_passes": metric_sum(job_execs, "MapInPandas", "number of output rows") / self.items,
            "denorm.join_s": cut_self["denorm"],
            "denorm.shuffle_bytes": metric_sum(self.own("denorm"), "Exchange", "shuffle bytes written"),
            "denorm.rows_out": root_rows(self.own("denorm")),
            "relations.resolve_s": cut_self["relations"],
            "enrich.merge_s": cut_self["enrich"] - translate_s,
            "enrich.merge_groups": metric_sum(merge_ops, "FlatMapGroupsInPandas", "number of output rows"),
            "enrich.python_ms": metric_sum(merge_ops, "FlatMapGroupsInPandas", "time to run Python workers"),
            "enrich.translate_s": translate_s,
            "engine.query_call_s": job_tr.total("engine.query"),
            "engine.sink_s": job_tr.total("engine.sink"),
        }


class OsmExtract(Workload):
    """The tag cherry-pick path: read_pbf → compile_tags_dsl on nodes and
    ways → JSON-lines. One decode pass and no joins, so a pbf decode change
    shows here. Its traced run also runs the full engine job (OsmJson) on a
    smaller fixture of the same seed."""

    name = "osm_extract"
    job_layer = "sink"
    cut_layers = ("pbf", "dsl")
    warmups = 4  # the decode jobs keep speeding up for several runs
    N_NODES, N_WAYS, N_RELS = 100_000, 10_000, 100
    items = N_NODES + N_WAYS + N_RELS

    def __init__(self, *a) -> None:
        super().__init__(*a)
        self.path = os.path.join(self.work, "extract.osm.pbf")
        self.out_dir = os.path.join(self.work, "osm_extract_out")

    def materialize(self) -> None:
        self._entities = osm_entities(self.seed, self.N_NODES, self.N_WAYS, self.N_RELS)
        pbf.write_pbf(self.path, *self._entities)

    def prepare(self) -> None:
        nodes, ways, _ = self._entities
        self._entities = None
        want = [
            {"type": "node", "id": i, "lat": round(lat, 7), "lon": round(lon, 7), "tags": tags}
            for i, lat, lon, tags in nodes if tags.get("amenity") == "toilets"
        ] + [
            {"type": "way", "id": i, "tags": tags, "refs": refs}
            for i, tags, refs in ways if tags.get("amenity") == "toilets"
        ]
        self.want = osm_digest(want)

    def _frames(self, tr):
        # each frontier is one frame, the node/way union the job writes, so
        # both decodes share one Spark job in a cut as they do in the job
        def union(n: DataFrame, w: DataFrame) -> DataFrame:
            return n.select("id", F.lit("node").alias("type"), "lat", "lon", "tags").unionByName(
                w.select("id", F.lit("way").alias("type"), "tags", "refs"),
                allowMissingColumns=True,
            )

        with tr.span("pbf.read_pbf"):
            nodes, ways, _ = pbf.read_pbf(self.spark, self.path)
        yield "pbf", [union(nodes, ways)]
        with tr.span("dsl.compile_tags_dsl"):
            pred = dsl.compile_tags_dsl(QUERY, F.col("tags"))
        yield "dsl", [union(nodes.filter(pred), ways.filter(pred))]

    def _plan(self, tr) -> DataFrame:
        return dict(self._frames(tr))["dsl"][0]

    def guard(self) -> list[str]:
        return _missing(_plan_text(self._plan(Tracer(False))), ["MapInPandas"])

    def job(self, tr):
        out = self._plan(tr)
        with tr.span("sink"):
            out.write.mode("overwrite").json(self.out_dir)
        return self.out_dir

    def check(self, out) -> bool:
        # the generator's coordinates are on a 1e-6 degree grid, which the
        # PBF's 100-nanodegree grid holds exactly; the decode returns them to
        # within float rounding, so both sides compare at 7 decimals
        rows = _read_json_lines(out)
        for r in rows:
            for k in ("lat", "lon"):
                if k in r:
                    r[k] = round(r[k], 7)
        return osm_digest(rows) == self.want

    def layer_metrics(self, job_tr, cut_tr, cut_self, job_execs) -> dict:
        pbf_ops = self.own("pbf")
        return {
            "pbf.index_s": cut_tr.mean("pbf.read_pbf"),
            "pbf.decode_s": cut_self["pbf"],
            "pbf.python_ms": metric_sum(pbf_ops, "MapInPandas", "time to run Python workers"),
            "pbf.rows_out": metric_sum(pbf_ops, "MapInPandas", "number of output rows"),
            "dsl.filter_s": cut_self["dsl"],
            "dsl.rows_out": metric_sum(self.own("dsl"), "Filter", "number of output rows"),
        }


def _read_json_lines(out_dir: str) -> list[dict]:
    rows = []
    for part in sorted(glob.glob(os.path.join(out_dir, "part-*"))):
        with open(part) as f:
            rows.extend(json.loads(line) for line in f if line.strip())
    return rows


# ---------------------------------------------------------------------------
# pages → geocode → point-in-polygon → tiles
# ---------------------------------------------------------------------------

TILE_RES = 12
POLY_HALF = 0.15  # degrees; one square per hot city, as jobs/pages_tiles_job.py


def city_rects() -> list[tuple[int, float, float, float, float]]:
    return [
        (i, lat - POLY_HALF, lat + POLY_HALF, lon - POLY_HALF, lon + POLY_HALF)
        for i, (lat, lon, _w) in enumerate(pages_mod.HOT_CENTERS)
    ]


def _sql_spread(v: str, bits: int) -> str:
    return " | ".join(f"(({v} & {1 << i}) << {i})" for i in range(bits))


def duckdb_tiles(parquet_dir: str, res: int) -> dict[int, int]:
    """Tile counts from DuckDB over the same parquet: the geocode regex, the
    half-open rectangle semantics of the pip_join_rect oracle, and the
    Morton cell id written out in SQL (the _sql_cell_from_xy idiom)."""
    import duckdb

    n = 1 << res
    rects = ", ".join(
        f"({pid}, {a!r}, {b!r}, {c!r}, {d!r})" for pid, a, b, c, d in city_rects()
    )
    re_ = pages_mod.GEO_RE
    sql = f"""
    WITH p AS (
      SELECT regexp_extract(text, '{re_}', 1) AS a, regexp_extract(text, '{re_}', 2) AS b
      FROM read_parquet('{parquet_dir}/*.parquet')),
    g AS (SELECT CAST(a AS DOUBLE) AS lat, CAST(b AS DOUBLE) AS lon FROM p WHERE a <> ''),
    r(pid, lat0, lat1, lon0, lon1) AS (VALUES {rects}),
    h AS (SELECT g.lat, g.lon FROM g JOIN r
          ON g.lat >= r.lat0 AND g.lat < r.lat1 AND g.lon >= r.lon0 AND g.lon < r.lon1),
    xy AS (SELECT
      least(greatest(CAST(floor((lon + 180.0) / 360.0 * {n}.0) AS BIGINT), 0), {n - 1}) AS x,
      least(greatest(CAST(floor((lat + 90.0) / 180.0 * {n}.0) AS BIGINT), 0), {n - 1}) AS y
      FROM h)
    SELECT CAST({res << 52} AS BIGINT) | ({_sql_spread('x', res)})
           | (({_sql_spread('y', res)}) << 1) AS tile, count(*) AS n
    FROM xy GROUP BY 1
    """
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        return {int(t): int(c) for t, c in con.execute(sql).fetchall()}
    finally:
        con.close()


class PagesTiles(Workload):
    """The flagship on materialized input: parquet pages → geocode →
    point-in-polygon (broadcast, auto res) → tile counts, collected. Its
    traced run also runs the checkpointed deployment (PagesTilesCkpt) once
    on the same input."""

    name = "pages_tiles"
    job_layer = "spatial.tile"
    cut_layers = ("pages.scan", "pages.geocode", "spatial.pip", "cells")
    warmups = 6  # the JIT keeps speeding these jobs up for several runs
    N_PAGES = 200_000
    items = N_PAGES

    def __init__(self, *a) -> None:
        super().__init__(*a)
        self.path = os.path.join(self.work, "pages.parquet")
        self.polys = self.spark.createDataFrame(
            [
                {
                    "polygon_id": pid,
                    "ring": [
                        {"lat": a, "lon": c}, {"lat": a, "lon": d},
                        {"lat": b, "lon": d}, {"lat": b, "lon": c},
                        {"lat": a, "lon": c},
                    ],
                }
                for pid, a, b, c, d in city_rects()
            ],
            "polygon_id long, ring array<struct<lat:double,lon:double>>",
        )

    def materialize(self) -> None:
        pages_mod.generate_pages(self.spark, self.N_PAGES, seed=self.seed).write.mode(
            "overwrite").parquet(self.path)

    def prepare(self) -> None:
        self.want = duckdb_tiles(self.path, TILE_RES)

    def check(self, out) -> bool:
        return {int(r["tile"]): int(r["n"]) for r in out} == self.want

    def _geocoded(self, df: DataFrame, tr) -> DataFrame:
        with tr.span("pages.geocode"):
            g = pages_mod.geocode(df)
        return g.filter(F.col("lat").isNotNull()).select("url", "lat", "lon")

    def _pip(self, df: DataFrame, tr, res=None) -> DataFrame:
        with tr.span("spatial.point_in_polygon_join"):
            return spatial.point_in_polygon_join(df, self.polys, res=res)

    def _tiles(self, df: DataFrame, tr) -> DataFrame:
        with tr.span("spatial.tile_aggregate"):
            return spatial.tile_aggregate(df, TILE_RES, [F.count(F.lit(1)).alias("n")])

    def _plan(self, tr) -> DataFrame:
        with tr.span("pages.scan"):
            p = self.spark.read.parquet(self.path)
        return self._tiles(self._pip(self._geocoded(p, tr), tr), tr)

    def guard(self) -> list[str]:
        return _missing(_plan_text(self._plan(Tracer(False))), ["Join", "Aggregate"])

    def job(self, tr):
        df = self._plan(tr)
        with tr.span("collect"):
            return df.collect()

    def _frames(self, tr):
        p = self.spark.read.parquet(self.path)
        yield "pages.scan", [p.select("text")]
        g = self._geocoded(p, tr)
        yield "pages.geocode", [g.select("lat", "lon")]
        hits = self._pip(g, tr)
        yield "spatial.pip", [hits.select("lat", "lon")]
        with tr.span("cells.cell_col"):
            c = cells.cell_col(F.col("lat"), F.col("lon"), TILE_RES)
        yield "cells", [hits.select(c.alias("tile"))]

    def layer_metrics(self, job_tr, cut_tr, cut_self, job_execs) -> dict:
        # the ray-cast verify is pushed into the join condition, so the join
        # emits only hits: the cell-prefilter candidates are not counted
        # anywhere, and the hit ratio is over the geocoded points it probes
        pip = self.own("spatial.pip")
        probed = root_rows(self.own("pages.geocode"))
        hits = root_rows(pip)
        return {
            "pages.scan_s": cut_self["pages.scan"],
            "pages.geocode_s": cut_self["pages.geocode"],
            "pages.rows_geocoded": probed,
            "cells.encode_s": cut_self["cells"],
            "spatial.pip_s": cut_self["spatial.pip"],
            "spatial.pip_hits": hits,
            "spatial.pip_hit_ratio": hits / probed if probed else 0.0,
            "spatial.broadcast_bytes": metric_sum(pip, "BroadcastExchange", "data size"),
            "spatial.tile_s": cut_self["spatial.tile"],
            "spatial.tile_shuffle_bytes": metric_sum(job_execs, "Exchange", "shuffle bytes written"),
        }


class _TracedCheckpoints(CheckpointManager):
    """CheckpointManager with spans around its public write/read calls."""

    def __init__(self, tr, *a) -> None:
        super().__init__(*a)
        self.tr = tr

    def write_stage(self, stage, df, **kw):
        with self.tr.span("checkpoint.write_stage", stage=stage):
            return super().write_stage(stage, df, **kw)

    def read_stage(self, stage):
        with self.tr.span("checkpoint.read_stage", stage=stage):
            return super().read_stage(stage)


class PagesTilesCkpt(PagesTiles):
    """The same input and stages run the way jobs/pages_tiles_job.py
    deploys them: checkpoint.run_stages(mode="overwrite"), every stage a
    snapshot plus metrics sidecar that is read back (polygon cover at res
    7, as there). Not a timed workload (the runs did not fit the benchmark's
    time budget next to the others); pages_tiles' traced run runs it once
    as a companion for the checkpoint layer's numbers."""

    name = "pages_tiles_ckpt"
    job_layer = "checkpoint"
    cut_layers = ()
    one_shot = True
    STAGES = ("pages", "geocoded", "hits", "tiles")

    def __init__(self, *a) -> None:
        super().__init__(*a)
        self.root = os.path.join(self.work, "ckpt")

    def materialize(self) -> None:
        """Nothing: it reads the parquet pages_tiles writes."""

    def reset(self) -> None:
        super().reset()
        shutil.rmtree(self.root, ignore_errors=True)

    def job(self, tr):
        mgr = _TracedCheckpoints(tr, self.spark, self.root, "pages_tiles")
        fns = [
            lambda _: self.spark.read.parquet(self.path),
            lambda p: self._geocoded(p, tr),
            lambda p: self._pip(p, tr, res=7),
            lambda p: self._tiles(p, tr),
        ]
        with tr.span("checkpoint.run_stages"):
            tiles = run_stages(mgr, list(zip(self.STAGES, fns)), mode="overwrite")
        with tr.span("collect"):
            rows = tiles.collect()
        self.written = sum(mgr.committed(s)["bytes"] for s in self.STAGES)
        self.files = sum(len(fs) for _, _, fs in os.walk(self.root))
        return rows

    def layer_metrics(self, job_tr, cut_tr, cut_self, job_execs) -> dict:
        return {
            "checkpoint.write_s": job_tr.self_total("checkpoint.write_stage"),
            "checkpoint.read_s": job_tr.total("checkpoint.read_stage"),
            "checkpoint.bytes_written": self.written,
            "checkpoint.bytes_per_page": self.written / self.N_PAGES,
            "checkpoint.files_written": self.files,
        }


WORKLOADS = {
    "osm_extract": (OsmExtract, OsmJson),
    "pages_tiles": (PagesTiles, PagesTilesCkpt),
}
