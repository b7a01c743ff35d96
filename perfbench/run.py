"""The repository's benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload geo_build --seed 1 --seconds 5 --trace 0

Run from the repository root. Builds its inputs from ``--seed``, starts
one Spark session on local[nproc], measures the workload for at least
``--seconds`` seconds, checks every output outside the timed window and
prints one JSON object as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones in BENCHMARK.json; with ``--trace 1`` the
per-layer ones, recorded by perfbench/recorder.py around each call into
a layer. Progress and the host context go to stderr. Everything the run
writes lives under perfbench/out/ and is deleted at the end, except the
trace file of a traced run.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # setup_s counts from here

import argparse
import json
import os
import shutil
import statistics
import sys
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import world
from recorder import Recorder, python_children_cpu_s, task_skew, vm_hwm_mb

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = HERE / "out"
DRIVER_MEM = "2g"

# a fixed-point loop through operators.closure and operators.labels (the
# post phase's D3 and D6 operators), a shuffle-heavy query and a
# Python-worker query
QUERIES = (
    "x9_ancestor_label_resolution",
    "g15_triangle_count",
    "mm_image_decode_jpeg",
)
TABLES = ("countries", "object_languages", "languages", "territorial_entities",
          "territorial_entities_parents", "cities", "cities_countries",
          "object_labels", "missing_p17")
ROUTED = ("countries", "territorial_entities", "cities", "missing_p17", "languages")
# the traced geo_build run also lands its world as this many shards, one
# pipeline.stream_ingest call each, then finalizes them
SHARDS = 2


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def prepare_env(work: Path, cpus: int) -> None:
    """Environment for the Spark session; set before the JVM starts."""
    for d in ("tmp", "spark-local", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    pp = os.environ.get("PYTHONPATH")
    # Python workers import geo_db_spark too (mapInPandas), from any cwd
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + pp if pp else "")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_BUILDER_CONFS"] = ",".join(
        [
            f"spark.sql.warehouse.dir={work / 'warehouse'}",
            f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={work / 'tmp'} -Dderby.system.home={work / 'tmp'}",
            "spark.ui.showConsoleProgress=false",
        ]
    )
    import tempfile

    tempfile.tempdir = None


def start_session(cpus: int):
    from geo_db_spark.session import get_spark

    t0 = time.perf_counter()
    # shuffle partitions = cores: the inputs are small, so the default 32
    # tiny tasks per stage would measure task scheduling, not the program
    spark = get_spark("perfbench", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it
    started) to exit: the JVM ends when its stdin closes."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def gc_s(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, beans.get(i).getCollectionTime()) for i in range(beans.size())) / 1000.0


def median(xs):
    return statistics.median(xs) if xs else 0.0


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, part files) written under a table directory."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.startswith("part-"):
                total += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return total, files


class Run:
    def __init__(self, args, work: Path, layer_names):
        self.args = args
        self.layer_names = layer_names
        self.work = work
        self.spark = None
        self.rec = None
        self.session_s = 0.0
        self.setup_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.info: dict = {}

    def fail(self, what: str, exc: BaseException | str) -> None:
        self.failed += 1
        log(f"FAILED {what}: {exc}")


# ================================================================ geo_build


def geo_inputs(run: Run):
    """Generate the world and write its dump."""
    w = world.make_geo_world(run.args.seed)
    dump = run.work / "dump.json.bz2"
    size = world.write_dump(w, str(dump))
    run.info["world"] = {**w.shape(), "dump_bz2_bytes": size}
    log(f"world {run.info['world']}")
    return w, str(dump)


def geo_build_once(run: Run, dump: str, i: int) -> dict:
    from geo_db_spark.pipeline import FINAL_TABLES, ingest
    from geo_db_spark.plans.geo_post import post_process

    out = run.work / f"build{i}"
    rec = run.rec
    with rec.span("build", iteration=f"build{i}") as root:
        t0 = time.perf_counter()
        with rec.span("pipeline.ingest"), _layer_probes(run) as probe:
            tables = ingest(run.spark, dump, world.CLASS_SETS, out_dir=str(out / "raw"))
        t1 = time.perf_counter()
        # post_process returns lazy plans (its loops run jobs as they go);
        # the final writes run the rest, so the post span holds them too
        with rec.span("plans.geo_post"):
            base = _cached_bytes(run)
            finals = post_process(tables)
            probe["cached_peak"] = _cached_bytes(run) - base
            for name in FINAL_TABLES:
                finals[name].write.mode("overwrite").parquet(str(out / name))
                probe["cached_peak"] = max(probe["cached_peak"], _cached_bytes(run) - base)
        t2 = time.perf_counter()
    return {
        "ingest_s": t1 - t0,
        "post_s": t2 - t1,
        "build_s": t2 - t0,
        "out": out,
        "root": root,
        "probe": probe,
    }


class _layer_probes:
    """With tracing on, wrap the layer entry points ``pipeline.ingest``
    calls (sources read, extract, parquet writes) in spans, and close the
    sources and extract layers at their boundaries by materializing their
    output there (``Recorder.probe``), so each layer's work lands in its
    own span instead of in the first write that happens to need it. The
    probe's cached frames are dropped when ingest returns, before the post
    phase starts. With tracing off this does nothing."""

    def __init__(self, run: Run):
        self.run = run
        self.state = {"persisted": [], "rows": {}, "entities": 0, "cached_peak": 0}

    def __enter__(self):
        if not self.run.rec.enabled:
            return self.state
        import geo_db_spark.pipeline as pipeline
        from pyspark.sql.readwriter import DataFrameWriter

        rec, state = self.run.rec, self.state
        self._saved = (pipeline.read_entity_dump, pipeline.extract_all, DataFrameWriter.parquet)
        real_read, real_extract, real_parquet = self._saved

        def read_entity_dump(spark, path):
            with rec.span("sources"):
                # ingest persists the entities itself; the probe only
                # counts them here instead of in the first write
                df = real_read(spark, path).persist()
                with rec.probe():
                    state["entities"] = df.count()
                state["persisted"].append(df)
            return df

        def extract_all(entities, tags, now_key):
            with rec.span("extract"):
                outs = real_extract(entities, tags, now_key)
                outs = {n: df.persist() for n, df in outs.items()}
                state["persisted"].extend(outs.values())
                for n, df in outs.items():
                    with rec.probe():
                        state["rows"][n] = df.count()
            with rec.bookkeeping():
                ids = None
                for n in ROUTED:
                    part = outs[n].select("id")
                    ids = part if ids is None else ids.unionByName(part)
                state["routed"] = ids.distinct().count()
            return outs

        def parquet(writer, path, *a, **kw):
            with rec.span("io.write") as s:
                real_parquet(writer, path, *a, **kw)
            s.attrs["bytes"], s.attrs["files"] = dir_bytes(path)

        pipeline.read_entity_dump = read_entity_dump
        pipeline.extract_all = extract_all
        DataFrameWriter.parquet = parquet
        return state

    def __exit__(self, *exc):
        if self.run.rec.enabled:
            import geo_db_spark.pipeline as pipeline
            from pyspark.sql.readwriter import DataFrameWriter

            pipeline.read_entity_dump, pipeline.extract_all, DataFrameWriter.parquet = self._saved
            with self.run.rec.bookkeeping():
                for df in self.state.pop("persisted"):
                    df.unpersist(blocking=True)
        return False


def _cached_bytes(run: Run) -> int:
    """Bytes held by cached and checkpointed RDDs (0 when untraced)."""
    if not run.rec.enabled:
        return 0
    with run.rec.bookkeeping():
        infos = run.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(infos[i].memSize() + infos[i].diskSize() for i in range(len(infos)))


def check_geo(w, out: Path) -> list[str]:
    """Final tables against the generator's facts (not against a digest
    of the program's own output). Returns the list of problems."""
    import duckdb

    con = duckdb.connect()
    got = {
        r[0]: tuple(r[1:])
        for r in con.sql(
            'SELECT id, country, "2nd_id", "2nd_iso", population '
            f"FROM read_parquet('{out}/cities/*.parquet')"
        ).fetchall()
    }
    langs = set(
        con.sql(f"SELECT id, lang FROM read_parquet('{out}/cities_languages/*.parquet')").fetchall()
    )
    problems = []
    if set(got) != set(w.cities):
        extra = sorted(set(got) - set(w.cities))[:3]
        missing = sorted(set(w.cities) - set(got))[:3]
        problems.append(f"city ids differ: extra {extra} missing {missing}")
    fields = ("country", "2nd_id", "2nd_iso", "population")
    for cid in sorted(set(got) & set(w.cities)):
        for f, g, e in zip(fields, got[cid], w.cities[cid]):
            if g != e:
                problems.append(f"city {cid} {f}: got {g!r} want {e!r}")
                break
    if langs != w.city_languages:
        problems.append(
            f"cities_languages differ: {len(langs)} rows vs {len(w.city_languages)} expected"
        )
    return problems[:10]


def geo_build(run: Run, inputs) -> dict:
    w, dump = inputs
    builds = []
    pid = jvm_pid(run.spark)
    gc0 = gc_s(run.spark)
    t_end = time.perf_counter() + run.args.seconds
    i = 0
    while i == 0 or time.perf_counter() < t_end:
        if builds:  # the last build's tables stay for the catch-up check
            shutil.rmtree(builds[-1]["out"], ignore_errors=True)
        run.attempted += 1
        try:
            b = geo_build_once(run, dump, i)
        except Exception as exc:  # noqa: BLE001 - a failed build is counted
            run.fail(f"build{i}", exc)
            i += 1
            continue
        builds.append(b)
        log(f"build{i} ingest {b['ingest_s']:.2f}s post {b['post_s']:.2f}s")
        problems = check_geo(w, b["out"])
        if problems:
            run.fail(f"build{i} check", "; ".join(problems))
        i += 1
    gc = (gc_s(run.spark) - gc0) / max(1, len(builds))
    n = run.info["world"]["entities"]
    ingest = median([b["ingest_s"] for b in builds])
    e2e = {
        "setup_s": run.setup_s,
        "wall_s": median([b["build_s"] for b in builds]),
        "peak_rss_mb": vm_hwm_mb(pid),
    }
    run.info["phases"] = {
        "ingest_s": ingest,
        "entities_per_s": n / ingest if ingest else 0.0,
        "post_s": median([b["post_s"] for b in builds]),
        "builds": len(builds),
    }
    if not run.rec.enabled:
        return e2e
    layer = dict.fromkeys(run.layer_names, 0)
    if builds:
        layer.update(geo_layers(run, builds[-1]))
    layer.update(common_layers(run, gc, 0.0, [b["root"] for b in builds]))
    if builds:
        layer.update(catch_up(run, w, builds[-1]["out"] / "raw"))
    return layer


def geo_layers(run: Run, b: dict) -> dict:
    rec = run.rec
    root = b["root"]
    spans = rec.subtree(root)

    def one(name):
        return next(s for s in spans if s.name == name)

    out = {}
    src = rec.inclusive(one("sources"))
    out["sources.read_parse_s"] = src["s"]
    out["sources.input_bytes"] = src["input_bytes"]
    out["sources.entities"] = b["probe"]["entities"]
    ex = rec.inclusive(one("extract"))
    out["extract.s"] = ex["s"]
    # jobs beyond one per probe count: the ones extract's plans need
    out["extract.jobs"] = ex["jobs"] - rec.probe_actions(one("extract"))
    out["extract.shuffle_write_bytes"] = ex["shuffle_write_bytes"]
    out["extract.routed_share"] = b["probe"]["routed"] / max(1, b["probe"]["entities"])
    for n in TABLES:
        out[f"extract.rows.{n}"] = b["probe"]["rows"].get(n, 0)
    writes = [s for s in spans if s.name == "io.write"]
    out["io.write_s"] = sum(s.wall_s for s in writes)
    out["io.bytes_written"] = sum(s.attrs.get("bytes", 0) for s in writes)
    out["io.files_written"] = sum(s.attrs.get("files", 0) for s in writes)
    ing = rec.inclusive(one("pipeline.ingest"))
    out["pipeline.ingest.s"] = ing["s"]
    out["pipeline.ingest.jobs"] = ing["jobs"] - rec.probe_actions(one("pipeline.ingest"))
    out["pipeline.ingest.driver_gap_s"] = ing["driver_gap_s"]
    post = rec.inclusive(one("plans.geo_post"))
    for k in ("s", "jobs", "stages", "driver_gap_s", "executor_run_s",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        out[f"plans.geo_post.{k}"] = post[k]
    out["plans.geo_post.cached_bytes_peak"] = b["probe"]["cached_peak"]
    self_s = {}
    for s in spans:
        self_s[s.name] = self_s.get(s.name, 0.0) + rec.self_time(s)
    for name in ("build", "pipeline.ingest", "sources", "extract", "io.write", "plans.geo_post"):
        out[f"self_s.{name}"] = self_s.get(name, 0.0)
    out["trace.wall_s"] = root.wall_s
    run.info["counts"] = {
        s.name: {"jobs": rec.inclusive(s)["jobs"], "stages": rec.inclusive(s)["stages"]}
        for s in spans if s.name in ("pipeline.ingest", "sources", "extract", "plans.geo_post")
    }
    return out


def catch_up(run: Run, w, raw: Path) -> dict:
    """Land the world again as SHARDS shards, one ``stream_ingest`` call
    (availableNow, one checkpoint) per shard, then finalize; the finalized
    nine tables must equal the batch build's ingest tables ``raw``.
    Returns the per-layer metrics of the increments and the finalize."""
    from geo_db_spark.pipeline import finalize_stream_ingest, stream_ingest

    rec = run.rec
    base = run.work / "stream"
    inbox, appended, final = base / "in", base / "tables", base / "final"
    inbox.mkdir(parents=True)
    per = -(-len(w.lines) // SHARDS)
    incs = []
    run.attempted += 1
    try:
        with rec.span("catchup", iteration="catchup") as root:
            for k in range(SHARDS):
                # a shard lands whole: written aside, then moved in
                tmp = base / f"shard{k}.tmp"
                tmp.write_text("".join(w.lines[k * per : (k + 1) * per]))
                os.rename(tmp, inbox / f"shard{k}.json")
                with rec.span("pipeline.stream_ingest") as s:
                    q = stream_ingest(run.spark, str(inbox), world.CLASS_SETS,
                                      str(appended), str(base / "checkpoint"))
                    q.awaitTermination()
                    rec.adopt_group(s, str(q.runId))
                s.attrs["progress"] = [
                    json.loads(p.json) if hasattr(p, "json") else p for p in q.recentProgress
                ]
                s.attrs["files"] = dir_bytes(str(appended))[1]
                incs.append(s)
            with rec.span("pipeline.finalize") as fin:
                for name, df in finalize_stream_ingest(run.spark, str(appended)).items():
                    df.write.mode("overwrite").parquet(str(final / name))
    except Exception as exc:  # noqa: BLE001 - a failed catch-up is counted
        run.fail("catchup", exc)
        return {}
    problems = check_catch_up(raw, final)
    if problems:
        run.fail("catchup check", "; ".join(problems))
    log(f"catchup increments {[round(s.wall_s, 2) for s in incs]}s finalize {fin.wall_s:.2f}s")

    def per_increment(key):
        return median([sum(p["durationMs"].get(key, 0) for p in s.attrs["progress"]) / 1000.0
                       for s in incs])

    files = [s.attrs["files"] for s in incs]
    f = rec.inclusive(fin)
    return {
        "pipeline.stream_ingest.increment_s": median([s.wall_s for s in incs]),
        "pipeline.stream_ingest.catchup_s": root.wall_s,
        "pipeline.stream_ingest.trigger_s": per_increment("triggerExecution"),
        "pipeline.stream_ingest.add_batch_s": per_increment("addBatch"),
        "pipeline.stream_ingest.planning_s": per_increment("queryPlanning"),
        "pipeline.stream_ingest.wal_commit_s": per_increment("walCommit"),
        "pipeline.stream_ingest.jobs_per_increment": median([s.jobs for s in incs]),
        "pipeline.stream_ingest.rows_per_increment": median(
            [sum(p["numInputRows"] for p in s.attrs["progress"]) for s in incs]
        ),
        "pipeline.stream_ingest.files_per_increment": median(
            [b - a for a, b in zip([0] + files, files)]
        ),
        "pipeline.finalize.s": f["s"],
        "pipeline.finalize.jobs": f["jobs"],
        "pipeline.finalize.shuffle_bytes": f["shuffle_read_bytes"] + f["shuffle_write_bytes"],
    }


def check_catch_up(raw: Path, final: Path) -> list[str]:
    """Each finalized table must hold exactly the rows (with their
    multiplicities) of the batch ingest's table. The one exception is
    ``finalize_stream_ingest``'s documented divergence: batch ingest keeps
    identical duplicate ``object_labels`` rows (as the reference's SQLite
    table does) and finalize keeps one of each, so there the finalized
    table must hold each distinct batch row exactly once."""
    import duckdb

    con = duckdb.connect()
    problems = []
    for name in TABLES:
        a = f"read_parquet('{raw}/{name}/*.parquet')"
        b = f"read_parquet('{final}/{name}/*.parquet')"
        cols = ", ".join(f'"{c}"' for c in sorted(con.sql(f"SELECT * FROM {a} LIMIT 0").columns))
        if name == "object_labels":
            a = f"(SELECT DISTINCT {cols} FROM {a})"
        n_a, n_b, only_a, only_b = con.sql(
            f"SELECT (SELECT count(*) FROM {a}), (SELECT count(*) FROM {b}), "
            f"(SELECT count(*) FROM (SELECT {cols} FROM {a} EXCEPT ALL SELECT {cols} FROM {b})), "
            f"(SELECT count(*) FROM (SELECT {cols} FROM {b} EXCEPT ALL SELECT {cols} FROM {a}))"
        ).fetchone()
        if only_a or only_b:
            problems.append(
                f"{name}: {n_b} rows vs {n_a} in the batch ingest "
                f"({only_a} missing, {only_b} extra)"
            )
    return problems


# ================================================================ query_mix


def oracle_rows(tables_dir: Path) -> dict[str, list]:
    """Each query's DuckDB oracle result, normalized as the repository's
    oracle gate normalizes rows (order-insensitive)."""
    import duckdb

    from geo_db_spark import workload
    from geo_db_spark.verify import _norm_rows

    sql = workload.oracle_sql()
    con = duckdb.connect()
    for t in ("nation", "part", "lineitem", "documents"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    out = {}
    for q in QUERIES:
        rel = con.sql(sql[q])
        out[q] = _norm_rows(rel.fetchall(), rel.columns)
    return out


def check_queries(results, oracle) -> list[str]:
    """``results`` is a list of (pass tag, {query: normalized rows}); every
    result must equal its oracle's rows."""
    problems = []
    for tag, rows in results:
        for q, got in rows.items():  # a query that raised is already counted
            if got != oracle[q]:
                problems.append(f"{tag} {q}: {len(got)} rows vs {len(oracle[q])} in the oracle, "
                                "or values differ")
    return problems


def query_pass(run: Run, tables_dir: str, tag: str) -> tuple[dict, dict]:
    """One pass over QUERIES: per-query wall and normalized result."""
    from geo_db_spark import workload
    from geo_db_spark.verify import _norm_rows

    fns = workload.queries()
    walls, results = {}, {}
    with run.rec.span("pass", iteration=tag):
        for q in QUERIES:
            run.attempted += 1
            with run.rec.span(f"workload.{q}"):
                t0 = time.perf_counter()
                try:
                    df = fns[q](run.spark, tables_dir)
                    rows = df.collect()
                except Exception as exc:  # noqa: BLE001 - counted, pass goes on
                    run.fail(f"{tag} {q}", exc)
                    continue
                walls[q] = time.perf_counter() - t0
            results[q] = _norm_rows([tuple(r) for r in rows], df.columns)
    return walls, results


def query_inputs(run: Run):
    tables_dir = run.work / "tables"
    world.write_query_tables(run.args.seed, str(tables_dir))
    return str(tables_dir)


def query_mix(run: Run, tables: str) -> dict:
    pid = jvm_pid(run.spark)
    gc0, py0 = gc_s(run.spark), python_children_cpu_s(pid)
    # the first pass runs in the run's fresh JVM, as a newly started
    # application's first queries do (JIT and code generation included)
    passes = []
    t_end = time.perf_counter() + run.args.seconds
    while not passes or time.perf_counter() < t_end:
        passes.append(query_pass(run, tables, f"pass{len(passes)}"))
    gc = (gc_s(run.spark) - gc0) / len(passes)
    py = (python_children_cpu_s(pid) - py0) / len(passes)
    checked = [(f"pass{i}", r) for i, (_, r) in enumerate(passes)]
    if run.rec.enabled:
        # one more pass, untimed, only to see whether each query's job and
        # stage counts repeat exactly
        checked.append(("repeat", query_pass(run, tables, "repeat")[1]))
    # correctness, outside the timed window
    for problem in check_queries(checked, oracle_rows(Path(tables))):
        run.fail("result", problem)
    pass_s = [sum(w.values()) for w, _ in passes]
    run.info["per_query_s"] = {q: median([w[q] for w, _ in passes if q in w]) for q in QUERIES}
    run.info["passes"] = len(passes)
    e2e = {
        "setup_s": run.setup_s,
        "wall_s": median(pass_s),
        "peak_rss_mb": vm_hwm_mb(pid),
    }
    if not run.rec.enabled:
        return e2e
    layer = dict.fromkeys(run.layer_names, 0)
    layer.update(query_layers(run))
    timed = [s for s in run.rec.by_name("pass") if s.iteration != "repeat"]
    layer.update(common_layers(run, gc, py, timed))
    return layer


def query_layers(run: Run) -> dict:
    rec = run.rec
    out = {}
    stages = []
    counts: dict[str, list[tuple[int, int]]] = {}
    for q in QUERIES:
        spans = rec.by_name(f"workload.{q}")
        for s in spans:
            inc = rec.inclusive(s)
            counts.setdefault(q, []).append((inc["jobs"], inc["stages"]))
        timed = [rec.inclusive(s) for s in spans if s.iteration != "repeat"]
        for st in timed:
            stages.extend(st["stage_list"])
        out[f"workload.{q}.wall_s"] = median([t["s"] for t in timed])
        out[f"workload.{q}.jobs"] = timed[-1]["jobs"] if timed else 0
        out[f"workload.{q}.driver_gap_s"] = median([t["driver_gap_s"] for t in timed])
        out[f"workload.{q}.shuffle_bytes"] = median(
            [t["shuffle_read_bytes"] + t["shuffle_write_bytes"] for t in timed]
        )
        out[f"workload.{q}.spill_bytes"] = median([t["spill_bytes"] for t in timed])
    out["workload.task_skew"] = task_skew(stages)
    passes = [s for s in rec.by_name("pass") if s.iteration != "repeat"]
    out["self_s.workload"] = median(
        [sum(rec.self_time(c) for c in rec.children(p)) for p in passes]
    )
    out["self_s.pass"] = median([rec.self_time(p) for p in passes])
    out["trace.wall_s"] = median([p.wall_s for p in passes])
    unstable = {q: c for q, c in counts.items() if len(set(c)) > 1}
    out["trace.unstable_counts"] = len(unstable)
    run.info["counts"] = {q: [{"jobs": j, "stages": s} for j, s in c] for q, c in counts.items()}
    run.info["unstable_counts"] = unstable
    return out


# ================================================================ metrics


def common_layers(run: Run, gc: float, py: float, roots) -> dict:
    rec = run.rec
    wall = sum(r.wall_s for r in roots) or 1.0
    return {
        "session.start_s": run.session_s,
        "jvm.gc_s": gc,
        "python_workers.cpu_s": py,
        "trace.bookkeeping_s": rec.bookkeeping_s,
        "trace.overhead_share": rec.bookkeeping_s / wall,
        "trace.spans": len(rec.spans),
    }


# workload -> (input generation, which needs no Spark; measurement)
WORKLOADS = {"geo_build": (geo_inputs, geo_build), "query_mix": (query_inputs, query_mix)}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not (ROOT / "geo_db_spark" / "__init__.py").is_file():
        log(f"no geo_db_spark package under {ROOT}: run from a full checkout")
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    # a traced run reports every per-layer metric, 0 for a layer the
    # workload never enters
    layer_names = [m["name"] for m in spec["per_layer"]]
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}

    sys.path.insert(0, str(ROOT))

    cpus = len(os.sched_getaffinity(0))
    work = OUT / f"{args.workload}-s{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work, cpus)
    load0 = os.getloadavg()
    spark = None
    run = Run(args, work, layer_names)
    make_inputs, measure = WORKLOADS[args.workload]
    try:
        # inputs are generated while the JVM starts; set-up time is the
        # wall from the start of this script until both are ready
        with ThreadPoolExecutor(max_workers=1) as pool:
            pending = pool.submit(make_inputs, run)
            spark, run.session_s = start_session(cpus)
            inputs = pending.result()
        run.setup_s = time.perf_counter() - T_START
        run.spark = spark
        run.rec = Recorder(spark, enabled=bool(args.trace))
        values = measure(run, inputs)
        host = {
            "nproc": cpus,
            "master": f"local[{cpus}]",
            "driver_heap": DRIVER_MEM,
            "loadavg_start": [round(x, 2) for x in load0],
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        }
        log(json.dumps({"host": host, **run.info}, default=str))
        if args.trace:
            OUT.mkdir(exist_ok=True)
            trace = OUT / f"trace-{args.workload}-s{args.seed}.json"
            trace.write_text(
                json.dumps(
                    {"host": host, "info": run.info,
                     "spans": [s.to_json() for s in run.rec.spans]},
                    default=str,
                )
            )
            log(f"trace written to {trace}")
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    metrics = {name: {"value": v, "unit": units[name]} for name, v in values.items()}
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
