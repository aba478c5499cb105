"""One benchmark run in one driver process; ``run.py`` starts it.

Usage: python3 perfbench/worker.py '<json arguments>'

Closed loop, one driver, one unit of work at a time. A unit is one crawl
(``init_state`` → ``run_round`` × rounds with ``maintain`` after each) for
``recrawl``, or one SERP batch for ``serp_extract``. A run does the number
of units that take about ``--seconds`` on a 4-core box (``spec.units_for``);
the count does not depend on how fast this run goes, so every run, and
every commit compared, measures the same work. Every run is a fresh
driver: the Python worker pool is started during set-up, but the program's
own first Spark jobs are timed cold, as a freshly started crawl pays them.
A traced run does the same units with the layer wrappers of ``spans.py``
installed around each; its round times minus an untraced run's are the
tracing overhead, and ``wrapper_s`` is the part spent in the wrappers
themselves.

Writes one JSON result to the path given in the arguments.
"""

from __future__ import annotations

import contextlib
import json
import math
import shutil
import sys
import time
import traceback
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import checks  # noqa: E402
import inputs  # noqa: E402
import spec  # noqa: E402

pc = time.perf_counter


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in Path(path).rglob("*") if p.is_file())


class Run:
    """Shared loop: set-up repetitions, the timed units, failure counting."""

    def __init__(self, args, size, root: Path):
        self.spark = None  # set once the session runs
        self.args, self.size, self.root = args, size, root
        self.cache = Path(args["cache_dir"])
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.digests: set[str] = set()

    def op(self, fn, *a, **kw):
        """One counted operation; ``run`` counts an exception as a failure."""
        self.attempted += 1
        return fn(*a, **kw)

    def verdict(self, problems: list[str]) -> None:
        """One counted output check."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(problems)

    def units(self, n: int, tracer=None) -> list[dict]:
        out = []
        for _ in range(n):
            # a unit's fresh state is made with the wrappers out
            self.prepare()
            if tracer is None:
                out.append(self.unit())
                continue
            tracer.install()
            try:
                out.append(self.unit(tracer))
            finally:
                tracer.uninstall()
        return out

    def prepare(self) -> None:
        """Untimed work before a unit."""

    def warm_up(self) -> float:
        """Start the Python worker pool: one job of 8 tasks through an
        Arrow UDF that imports what the program's UDFs import. Timed once,
        as part of set-up; the units reuse the pool."""
        t = pc()

        def touch(batches):
            import numpy  # noqa: F401
            import pandas  # noqa: F401

            import archive_query_log_spark.crawler.codec  # noqa: F401
            import archive_query_log_spark.operators.seen_set  # noqa: F401

            yield from batches

        self.spark.range(0, 8, numPartitions=8).mapInArrow(touch, "id long").count()
        return pc() - t

    def phase(self, name: str) -> None:
        """Tell the launcher which phase runs; it samples memory in 'units'."""
        (Path(self.args["run_dir"]) / "phase").write_text(name)

    def run(self) -> dict:
        # setup_s is an untraced metric; a traced run sets up once
        reps = 1 if self.args["trace"] else spec.SETUP_REPS
        out = {"setup_reps_s": [self.setup() for _ in range(reps)]}
        n = spec.units_for(self.args["workload"], self.args["seconds"])
        try:
            out["warm_up_s"] = self.warm_up()
            self.phase("units")
            if not self.args["trace"]:
                out["units"] = self.units(n)
            else:
                from spans import Tracer

                tracer = Tracer(self.spark)
                out["units"] = self.units(n, tracer)
                out["spans"] = tracer
            self.phase("checks")
        except Exception:
            # the run ends with the units it finished
            self.failed += 1
            self.problems.append(traceback.format_exc())
            out.setdefault("units", [])
        pins = json.loads((Path(__file__).parent / "pins.json").read_text())
        pin = pins.get(self.args["workload"], {}).get(self.args["size"], {}).get(
            str(self.args["seed"])
        )
        if len(self.digests) > 1:
            self.verdict([f"units of one run disagree: digests {sorted(self.digests)}"])
        elif pin is not None and self.digests and pin != next(iter(self.digests)):
            self.verdict([f"digest {next(iter(self.digests))} != pinned {pin}"])
        out["digest"] = next(iter(self.digests), None)
        return out


class CrawlRun(Run):
    def make_inputs(self):
        s = self.size
        self.images_path = self.cache / spec.images_entry(s) / "images"
        self.data = inputs.derive_recrawl(
            self.cache / spec.pool_entry(s) / "pool", self.root / "inputs", self.args["seed"]
        )
        from archive_query_log_spark.crawler import pipeline

        self.cfg = pipeline.CrawlConfig(budget_waves=s.budget_waves)
        self.n = 0
        self.crawled = False

    def prepare(self) -> None:
        if self.crawled:
            self.state = self.fresh_state()
        self.crawled = True

    def setup(self) -> float:
        """Load inputs, cache the images, init_state; the state of the last
        repetition is the one the first unit crawls."""
        from archive_query_log_spark.crawler import synth

        if getattr(self, "images", None) is not None:
            self.images.unpersist()
        t = pc()
        self.images = self.spark.read.parquet(str(self.images_path)).cache()
        self.images.count()
        self.robots = synth.synth_robots(self.spark)
        self.state = self.fresh_state()
        return pc() - t

    def fresh_state(self):
        from archive_query_log_spark.crawler import pipeline

        if getattr(self, "state", None) is not None:
            shutil.rmtree(self.state.root, ignore_errors=True)
        self.n += 1
        frontier = self.spark.read.parquet(str(self.data / "frontier"))
        return pipeline.init_state(self.root / f"state{self.n}", frontier)

    def unit(self, tracer=None) -> dict:
        from archive_query_log_spark.crawler import pipeline

        span = tracer.span if tracer is not None else (lambda _name: contextlib.nullcontext())
        state, rounds = self.state, []
        for r in (0, 1):
            rec = {"append_s": 0.0}
            if r:
                batch = self.spark.read.parquet(str(self.data / "batch"))
                t = pc()
                with span("tables.append_frontier"):
                    self.op(state.frontier.commit, batch, op="append", meta={"stage": "discovered"})
                rec["append_s"] = pc() - t
            t = pc()
            stats = self.op(
                pipeline.run_round, self.spark, state, self.images, self.robots,
                self.cfg, round_id=r,
            )
            rec["round_s"] = pc() - t
            if tracer is not None:
                t = pc()
                rec["counts"] = round_counts(self.spark, state, r, stats, tracer)
                rec["count_s"] = pc() - t
            t = pc()
            self.op(pipeline.maintain, self.spark, state, **spec.MAINTAIN)
            rec["maintain_s"] = pc() - t
            rounds.append(rec)
        if self.args["inject_defect"]:
            # a fetch log that lists one URL twice
            state.fetches.commit(state.fetches.read(self.spark).limit(1), op="append")
        problems, facts = checks.check_crawl(self.spark, state, self.cfg.budget_waves)
        self.verdict(problems)
        self.digests.add(facts["digest"])
        tables = [getattr(state, n) for n in ("frontier", "fetches", "seen_keys", "seen_shards", "metrics")]
        return {
            "rounds": rounds,
            "wall_s": sum(r["round_s"] + r["maintain_s"] + r["append_s"] for r in rounds),
            "fetched": facts["fetched"],
            "state_bytes_per_url": sum(dir_bytes(t.path) for t in tables) / facts["fetched"],
            "data_dirs": sum(len(t._manifest(t.latest_version())["data_dirs"]) for t in tables),
        }


def round_counts(spark, state, rnd: int, stats: dict, tracer) -> dict:
    """The seen-set, politeness and fetch funnel of one traced round, counted
    from frames the round materialized (or, for the robots input, by
    re-running its plan) after the round's timer stopped."""
    from pyspark.sql import functions as F

    c = {"scheduled": stats["fetched"], "fetched": stats["fetched"], "ok": stats["ok"] or 0}
    fetched = state.fetches.read(spark).where(F.col("round") == rnd)
    c["valid"] = fetched.where(checks.payload_ok()).count()
    probed = tracer.captured.pop("probed", None)
    (fn_args, fn_kw) = tracer.captured.pop("seen_set.filtered_new")
    if probed is not None:
        seen = fn_args[1] if len(fn_args) > 1 else fn_kw["seen"]
        g = {r["maybe_seen"]: r["count"] for r in probed.groupBy("maybe_seen").count().collect()}
        c["probed"] = sum(g.values())
        c["suspects"] = g.get(True, 0)
        c["exact_hits"] = (
            probed.where("maybe_seen").select("url_key")
            .join(seen.select("url_key").distinct(), "url_key", "left_semi").count()
        )
    (rb_args, _) = tracer.captured.pop("politeness.apply_robots")
    c["robots_in"] = rb_args[0].count()
    allowed = tracer.captured.pop("allowed").count()
    c["robots_dropped"] = c["robots_in"] - allowed
    c["over_budget"] = allowed - stats["fetched"]
    return c


class SerpRun(Run):
    def make_inputs(self):
        self.path = inputs.derive_serp(self.root / "inputs", self.args["seed"], self.size.n_serps)
        self.docs = inputs.corpus_docs()
        self.n = 0

    def setup(self) -> float:
        from archive_query_log_spark.operators.rule_tables import reference_rules_df
        from archive_query_log_spark.tables import SnapshotTable

        if getattr(self, "serps", None) is not None:
            self.serps.unpersist()
            shutil.rmtree(self.table.path.parent, ignore_errors=True)
        t = pc()
        self.rules = reference_rules_df(self.spark, "url_query")
        self.serps = self.spark.read.parquet(str(self.path)).cache()
        self.serps.count()
        self.n += 1
        self.table = SnapshotTable(self.root / f"serp{self.n}" / "extractions")
        self.committed = 0
        return pc() - t

    def unit(self, tracer=None) -> dict:
        from pyspark.sql import functions as F

        from archive_query_log_spark.operators import cascade, warc_rules

        span = tracer.span if tracer is not None else (lambda _name: contextlib.nullcontext())
        t = pc()
        with span("cascade.apply_cascade_array"):
            q = self.op(
                lambda: cascade.apply_cascade_array(
                    self.serps, self.rules, F.col("serp_url"), F.col("provider_id"),
                    out_col="query",
                ).localCheckpoint()
            )
        with span("warc_rules.parse_serp"):
            out = self.op(lambda: warc_rules.parse_serp(q).drop("html").localCheckpoint())
        self.op(self.table.commit, out, op="append")
        wall = pc() - t
        docs = self.docs
        if self.args["inject_defect"]:
            # a golden the first document's extraction cannot match
            first = out.first()["doc_id"]
            docs = [dict(d, warc_query="#", blocks=[]) if d["capture_id"] == first else d
                    for d in docs]
        problems, facts = checks.check_serp(out, docs, self.args["seed"])
        self.verdict(problems)
        self.digests.add(facts["digest"])
        self.committed += facts["serps"]
        return {
            "rounds": [{"round_s": wall}],
            "wall_s": wall,
            "fetched": facts["serps"],
            "facts": facts,
            "state_bytes_per_url": dir_bytes(self.table.path) / self.committed,
            "data_dirs": len(self.table._manifest(self.table.latest_version())["data_dirs"]),
        }


def bloom_fp_target() -> float:
    """False-positive rate BloomConfig is sized for: (1 - e^(-k/b))^k."""
    from archive_query_log_spark.operators.seen_set import BloomConfig

    c = BloomConfig()
    return (1 - math.exp(-c.k / c.bits_per_key)) ** c.k


def start_session(args):
    from archive_query_log_spark.session import get_spark

    spark = get_spark(
        app_name=f"perfbench-{args['workload']}", master=f"local[{spec.cores()}]"
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def main() -> int:
    started = time.time()
    args = json.loads(sys.argv[1])
    size = spec.SIZES[args["size"]][args["workload"]]
    if args.get("synthesize"):
        spark = start_session(args)
        inputs.synthesize(spark, Path(args["cache_dir"]), size)
        spark.stop()
        return 0
    runner = (CrawlRun if args["workload"] == "recrawl" else SerpRun)(
        args, size, Path(args["run_dir"]) / "work"
    )
    t = pc()
    runner.make_inputs()  # pyarrow only: no JVM yet
    derive_s = pc() - t
    t = time.time()
    runner.spark = spark = start_session(args)
    # process spawn → session ready, without the input derivation
    session_s = (started - args["spawn_time"]) + (time.time() - t)
    out = runner.run()
    spark.stop()
    tracer = out.pop("spans", None)
    result = {
        "session_s": session_s,
        "derive_s": derive_s,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "problems": runner.problems,
        **out,
    }
    if tracer is not None:
        from spans import aggregate_event_log

        result["span_totals"] = tracer.by_name()
        result["run_round_self_s"] = sum(
            s.self_s for s in tracer.spans if s.name == "pipeline.run_round"
        )
        result["wrapper_s"] = tracer.wrapper_s
        result["events"] = aggregate_event_log(Path(args["run_dir"]) / "eventlog")
        result["bloom_fp_target"] = bloom_fp_target()
    Path(args["result_path"]).write_text(json.dumps(result, default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())
