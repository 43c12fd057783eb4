"""The benchmark's workloads: each prepares its inputs from the seed
(outside any timed window), makes one call into the program per
:meth:`call`, and checks that call's outputs against DuckDB."""

from __future__ import annotations

import contextlib
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import oracle

#: conversations per generated table (~7.15 turns per conversation)
N_CONVS = {"headline": 30_000, "resume": 30_000}
#: input files per table; ``resume`` marks a seeded 1/8 of them pending
N_FILES = {"headline": 8, "resume": 64}
PENDING_SHARE = 8


class Workload:
    """``headline``: ``run_full_validation(spark, df, sink_dir=...,
    sequence_checks=True)`` over the generated table, checked against
    DuckDB's (field, rule) counts and per-conversation health totals."""

    def __init__(self, name: str, seed: int, work: str):
        self.name, self.seed, self.work = name, seed, work
        self.data = os.path.join(work, "data")
        self.sink = os.path.join(work, "sink")
        self.audit = os.path.join(work, "audit")
        self.audit_clean = os.path.join(work, "audit_pristine")
        self.expected: dict | None = None

    # -- set-up ---------------------------------------------------------
    def prepare(self) -> None:
        """Generate and write the input table (pure Python, no Spark)."""
        shutil.rmtree(self.data, ignore_errors=True)
        cols = gen.transcripts(self.seed, N_CONVS[self.name])
        self.files = gen.write(cols, self.data, N_FILES[self.name])
        self.n_turns = len(cols["turn_idx"])

    def load(self, spark) -> None:
        """Open the table in ``spark`` and touch every file once."""
        self.spark = spark
        self.df = spark.read.parquet(self.data)
        if self.df.count() != self.n_turns:
            raise RuntimeError("input table lost rows on read")

    def expect(self) -> None:
        """Expected outputs, from DuckDB over the input files."""
        self.expected = oracle.expected_rule_counts(self.files)

    @property
    def turns_per_call(self) -> int:
        return self.n_turns

    # -- the measured call ------------------------------------------------
    def before_call(self) -> None:
        """Untimed per-call reset."""

    def call(self) -> None:
        from cerberus_spark.pipeline import run_full_validation

        run_full_validation(self.spark, self.df, sink_dir=self.sink,
                            sequence_checks=True)

    def check(self) -> list[str]:
        """Problems with the last call's outputs (empty = correct)."""
        got = oracle.sink_rule_counts(f"{self.sink}/violations")
        if got != self.expected:
            keys = sorted(set(got) | set(self.expected))
            return [f"{k}: sink {got.get(k, 0)} != duckdb {self.expected.get(k, 0)}"
                    for k in keys if got.get(k, 0) != self.expected.get(k, 0)]
        return []

    def final_check(self) -> list[str]:
        """Per-conversation health totals rolled up by the program from
        the last sink, against DuckDB over the input."""
        from pyspark.sql import functions as F

        from cerberus_spark.pipeline import conversation_health_from_violations

        h = conversation_health_from_violations(
            self.df, self.spark.read.parquet(f"{self.sink}/violations"))
        row = h.agg(F.count(F.lit(1)), F.sum("n_turns"),
                    *[F.sum(c) for c in oracle.HEALTH_KEYS[2:-1]],
                    F.sum(F.col("keep").cast("long"))).first()
        got = dict(zip(oracle.HEALTH_KEYS, (int(v or 0) for v in row)))
        want = oracle.expected_health(self.files)
        return [f"health {k}: spark {got[k]} != duckdb {want[k]}"
                for k in oracle.HEALTH_KEYS if got[k] != want[k]]

    # -- checkpoint / audit state -----------------------------------------
    def pending_files(self) -> list[str]:
        rng = np.random.default_rng(self.seed + 3_000_017)
        n = max(1, len(self.files) // PENDING_SHARE)
        return sorted(rng.choice(self.files, n, replace=False).tolist())

    def build_audit(self) -> None:
        """A pristine audit log marking every input file but the seeded
        pending ones as done, in the layout ``plans.checkpoint.AuditLog``
        reads (units are the scheme-less absolute file paths)."""
        pending = set(self.pending_files())
        self.per_file = oracle.failing_rows_per_file(self.files)
        done = [(f, n, n - bad, bad) for f, (n, bad) in sorted(self.per_file.items())
                if f not in pending]
        table = pa.table({
            "run_id": ["pristine"] * len(done),
            "unit": [d[0] for d in done],
            "rows": pa.array([d[1] for d in done], pa.int64()),
            "n_pass": pa.array([d[2] for d in done], pa.int64()),
            "n_fail": pa.array([d[3] for d in done], pa.int64()),
            "finished_ts": pa.array([0] * len(done), pa.timestamp("us", tz="UTC")),
            "status": ["done"] * len(done),
        })
        shutil.rmtree(self.audit_clean, ignore_errors=True)
        os.makedirs(self.audit_clean)
        pq.write_table(table, os.path.join(self.audit_clean, "part-pristine.parquet"))

    def restore_audit(self) -> None:
        shutil.rmtree(self.audit, ignore_errors=True)
        shutil.copytree(self.audit_clean, self.audit)


class Resume(Workload):
    """``jobs/validate_job.main([..., "--resume", audit])`` over the
    table split into many files, with all but a seeded 1/8 of them
    already recorded as done in the audit log."""

    def prepare(self) -> None:
        super().prepare()
        self.build_audit()

    def expect(self) -> None:
        pending = self.pending_files()
        self.expected = {p: self.per_file[p] for p in pending}

    @property
    def turns_per_call(self) -> int:
        return sum(n for n, _ in self.expected.values())

    def before_call(self) -> None:
        self.restore_audit()

    def call(self) -> None:
        from jobs import validate_job

        argv = ["--input", self.data, "--sink", self.sink, "--resume", self.audit]
        with contextlib.redirect_stdout(sys.stderr):
            rc = validate_job.main(argv)
        if rc != 0:
            raise RuntimeError(f"validate_job exited {rc}")

    def check(self) -> list[str]:
        import duckdb

        con = duckdb.connect()
        rows = con.execute(
            f"SELECT unit, rows, n_fail FROM read_parquet('{self.audit}/*.parquet') "
            "WHERE run_id <> 'pristine'").fetchall()
        con.close()
        got = {u: (int(n), int(k)) for u, n, k in rows}
        problems = []
        if len(rows) != len(got):
            problems.append("audit log recorded a unit twice")
        if set(got) != set(self.expected):
            problems.append(f"audit units {sorted(got)} != pending {sorted(self.expected)}")
        elif got != self.expected:
            problems.append("audit (rows, n_fail) per unit differ from duckdb")
        if sum(n for n, _ in got.values()) != self.turns_per_call:
            problems.append("audit rows do not sum to the pending turns")
        return problems

    def final_check(self) -> list[str]:
        return []


def make(name: str, seed: int, work: str) -> Workload:
    return (Resume if name == "resume" else Workload)(name, seed, work)
