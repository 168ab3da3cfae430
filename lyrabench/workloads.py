"""The three workloads: one operation each, its output checks, its spans.

Every workload drives the public functions of ``lyra_spark`` (or the
``jobs/validate.py`` CLI) on files made by ``fixtures.materialize``. An
operation returns its wall time and what the checks need; ``check`` returns
a list of failures (empty means the outputs are correct). Checks read the
outputs with pyarrow after the operation's clock has stopped.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import importlib.util
import io
import json
import os
import shutil
import time

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

PROFILE_COLUMNS = ["conv_id", "role", "text", "tool", "turn_idx"]
DRIFT_EXPR = "cast(length(text) as double)"


def _sink_table(path: str) -> pa.Table:
    part = ds.partitioning(pa.schema([("part_date", pa.string())]), flavor="hive")
    return ds.dataset(path, format="parquet", partitioning=part).to_table()


def parquet_files(path: str) -> list[str]:
    return glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)


def _sink_digest(tab: pa.Table) -> str:
    """Order-independent content digest: rows sorted on every column."""
    cols = [(c, "ascending") for c in tab.column_names]
    h = hashlib.sha256()
    for batch in tab.sort_by(cols).to_batches():
        for c in batch.columns:
            h.update(str(c.to_pylist()).encode())
    return h.hexdigest()


class Workload:
    name = ""
    default_sf = ""
    # Spark confs the workload needs at session construction
    conf: dict[str, str] = {}

    def __init__(self, root: str, fx: str, expect: dict, work: str, cores: int) -> None:
        self.root = root
        self.fx = fx
        self.table = os.path.join(fx, "transcripts")
        self.expect = expect
        self.work = work
        self.cores = cores
        self.tracer = None

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def open(self, spark) -> None:
        """Open the inputs (timed as part of set-up)."""
        self.spark = spark
        self.tdf = spark.read.parquet(self.table)
        self.dim = spark.read.parquet(os.path.join(self.fx, "tools_dim.parquet"))

    def install_spans(self, tracer) -> None:
        raise NotImplementedError

    def op(self, i: int) -> dict:
        raise NotImplementedError

    def check(self, out: dict) -> list[str]:
        raise NotImplementedError


class Suite(Workload):
    """``presets.run_suite`` on the whole fixture, then force the verdicts."""

    name = "suite_sf0.05"
    default_sf = "0.05"

    def install_spans(self, tracer) -> None:
        from lyra_spark import fused, presets
        from lyra_spark import io as lio

        self.tracer = tracer
        tracer.wrap(fused, "validate_transcripts_fused", "fused.validate_transcripts_fused")
        tracer.wrap(lio, "write_violations", "io.write_violations")
        tracer.wrap(lio, "partition_row_counts", "io.partition_row_counts")
        tracer.wrap(presets, "verdicts_from_metadata", "presets.verdicts_from_metadata")

    def op(self, i: int) -> dict:
        from lyra_spark import presets

        sink = os.path.join(self.work, "sink")
        t0 = time.perf_counter()
        _, verd = presets.run_suite(self.tdf, self.dim, sink, input_path=self.table)
        with self.span("verdicts.force"):
            rows = verd.collect()
        wall = time.perf_counter() - t0
        return {"wall": wall, "verdicts": [r.asDict() for r in rows], "sinks": [sink]}

    def check(self, out: dict) -> list[str]:
        errs = []
        tab = _sink_table(out["sinks"][0])
        found = set(zip(*(tab.column(c).to_pylist() for c in ("conv_id", "turn_idx", "rule_id"))))
        missing = [t for t in self.expect["injected"] if tuple(t) not in found]
        if missing:
            errs.append(f"{len(missing)} injected violations missing from the sink, e.g. {missing[:3]}")
        sink_rules: dict[str, int] = {}
        for r in tab.column("rule_id").to_pylist():
            sink_rules[r] = sink_rules.get(r, 0) + 1
        grid_rules: dict[str, int] = {}
        for v in out["verdicts"]:
            grid_rules[v["rule_id"]] = grid_rules.get(v["rule_id"], 0) + v["violation_count"]
        if {k: v for k, v in grid_rules.items() if v} != sink_rules:
            errs.append(f"verdict grid per-rule sums {grid_rules} != sink per-rule rows {sink_rules}")
        rule0 = out["verdicts"][0]["rule_id"] if out["verdicts"] else None
        grid_turns = sum(v["row_count"] for v in out["verdicts"] if v["rule_id"] == rule0)
        if grid_turns != self.expect["turns"]:
            errs.append(f"verdict grid row counts sum to {grid_turns}, fixture has {self.expect['turns']} turns")
        digest = _sink_digest(tab)
        first = getattr(self, "_digest", None)
        if first is None:
            self._digest = digest
        elif digest != first:
            errs.append(f"sink digest {digest[:12]} differs from the run's first operation {first[:12]}")
        return errs


class PartitionLoop(Workload):
    """``jobs/validate.main`` in-process: a fresh pass over the first
    ``PARTITIONS`` date partitions under a new run id, then a resume pass on
    the same run id that validates nothing."""

    name = "partition_loop"
    default_sf = "0.01"
    conf = {"spark.scheduler.mode": "FAIR"}
    PARTITIONS = 4

    def __init__(self, *a, **kw) -> None:
        super().__init__(*a, **kw)
        spec = importlib.util.spec_from_file_location(
            "lyrabench_validate_cli", os.path.join(self.root, "jobs", "validate.py")
        )
        self.cli = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self.cli)
        self.parts = sorted(self.expect["rows_by_date"])[: self.PARTITIONS]
        self.part_rows = sum(self.expect["rows_by_date"][p] for p in self.parts)

    def install_spans(self, tracer) -> None:
        from lyra_spark import checkpoint, drift, fused, presets
        from lyra_spark import io as lio

        self.tracer = tracer
        tracer.wrap(self.cli, "validate_transcripts", "jobs.validate.validate_transcripts")
        tracer.wrap(fused, "validate_transcripts_fused", "fused.validate_transcripts_fused")
        tracer.wrap(lio, "write_violations", "io.write_violations")
        tracer.wrap(lio, "partition_row_counts", "io.partition_row_counts")
        tracer.wrap(presets, "verdicts_from_metadata", "presets.verdicts_from_metadata")
        tracer.wrap(checkpoint, "save_manifest", "checkpoint.save_manifest")
        tracer.wrap(checkpoint, "load_manifest", "checkpoint.load_manifest")
        tracer.wrap(drift, "drift_verdicts", "drift.drift_verdicts")

    def _call(self, argv: list[str]) -> float:
        buf = io.StringIO()
        t0 = time.perf_counter()
        with contextlib.redirect_stdout(buf):
            rc = self.cli.main(argv)
        wall = time.perf_counter() - t0
        if rc != 0:
            raise RuntimeError(f"jobs/validate.py exited {rc}: {buf.getvalue()[-2000:]}")
        return wall

    def op(self, i: int) -> dict:
        base = os.path.join(self.work, f"op{i}")
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base)
        argv = [
            "--table", self.table,
            "--tools-dim", os.path.join(self.fx, "tools_dim.parquet"),
            "--checkpoint", os.path.join(base, "ckpt"),
            "--run-id", f"op{i}",
            "--out", os.path.join(base, "out"),
            "--master", f"local[{self.cores}]",
            "--concurrency", str(self.cores),
        ]
        fresh = os.path.join(base, "fresh.json")
        resume = os.path.join(base, "resume.json")
        wall = self._call(argv + ["--limit-partitions", str(self.PARTITIONS), "--report", fresh])
        resume_wall = self._call(argv + ["--limit-partitions", "0", "--report", resume])
        with open(fresh) as f:
            fr = json.load(f)
        with open(resume) as f:
            rr = json.load(f)
        return {
            "wall": wall, "resume": resume_wall, "fresh": fr, "resumed": rr,
            "sinks": [os.path.join(base, "out")],
            "manifest": os.path.join(base, "ckpt", f"op{i}", "manifest.json"),
        }

    def check(self, out: dict) -> list[str]:
        from lyra_spark.fixtures import DRIFT_DATE

        errs = []
        fr, rr = out["fresh"], out["resumed"]
        got = sorted(p["partition"] for p in fr["partitions"])
        if got != self.parts:
            errs.append(f"fresh pass validated {got[:3]}... ({len(got)}), expected the first {len(self.parts)} dates")
        rows = {p["partition"]: p["rows"] for p in fr["partitions"]}
        bad = {p: n for p, n in rows.items() if n != self.expect["rows_by_date"].get(p)}
        if bad:
            errs.append(f"partition row counts differ from the fixture: {dict(list(bad.items())[:3])}")
        if sum(rows.values()) != self.part_rows:
            errs.append(f"partition rows sum to {sum(rows.values())}, the fixture's {self.part_rows}")
        sink = out["sinks"][0]
        for p in fr["partitions"]:
            n = sum(pq.read_metadata(f).num_rows for f in parquet_files(os.path.join(sink, f"part={p['partition']}")))
            if n != p["violations"]:
                errs.append(f"partition {p['partition']}: report says {p['violations']} violations, sink holds {n}")
                break
        if rr["partitions_this_run"] != 0 or rr["partitions_completed_before"] != len(self.parts):
            errs.append(f"resume pass validated {rr['partitions_this_run']} and found "
                        f"{rr['partitions_completed_before']} completed, expected 0 and {len(self.parts)}")
        for name, rep in (("fresh", fr), ("resume", rr)):
            if rep.get("drift_failing") != [str(DRIFT_DATE)]:
                errs.append(f"{name} pass drift failing set {rep.get('drift_failing')} != [{DRIFT_DATE}]")
        return errs


class Profile(Workload):
    """Read-only profiling: column stats, the text-length histogram, and the
    per-partition drift sketch with its verdicts."""

    name = "profile_sf0.05"
    default_sf = "0.05"

    def install_spans(self, tracer) -> None:
        from lyra_spark import drift

        self.tracer = tracer
        tracer.wrap(drift, "drift_verdicts", "drift.drift_verdicts")

    def op(self, i: int) -> dict:
        from lyra_spark import drift, stats

        t0 = time.perf_counter()
        # the stats frames are lazy: each span covers the call and its force
        with self.span("stats.column_stats"):
            cs = stats.column_stats(self.tdf, PROFILE_COLUMNS).collect()
        with self.span("stats.length_histogram"):
            lh = stats.length_histogram(self.tdf, "text").collect()
        dv = drift.drift_verdicts(drift.sketch_by_partition(self.tdf, DRIFT_EXPR, "part_date"))
        wall = time.perf_counter() - t0
        return {
            "wall": wall, "sinks": [],
            "stats_rows": {c: sum(r["row_count"] for r in cs if r["column"] == c) for c in PROFILE_COLUMNS},
            "hist_rows": sum(r["count"] for r in lh),
            "drift_failing": sorted(str(p) for p in dv.loc[~dv["pass"], "part_key"]),
        }

    def check(self, out: dict) -> list[str]:
        from lyra_spark.fixtures import DRIFT_DATE

        errs = []
        bad = {c: n for c, n in out["stats_rows"].items() if n != self.expect["turns"]}
        if bad:
            errs.append(f"column_stats row counts {bad} != {self.expect['turns']} turns")
        if out["hist_rows"] != self.expect["text_nonnull"]:
            errs.append(f"length_histogram counts {out['hist_rows']} non-null texts, "
                        f"fixture has {self.expect['text_nonnull']}")
        if out["drift_failing"] != [str(DRIFT_DATE)]:
            errs.append(f"drift failing set {out['drift_failing']} != [{DRIFT_DATE}]")
        return errs


WORKLOADS = {w.name: w for w in (Suite, PartitionLoop, Profile)}
