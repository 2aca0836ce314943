"""The workloads: inputs, the job call, the reference and the trace chain.

Each workload drives ``flow_feature_spark.job.run`` with the argv a
``spark-submit`` user would pass. Inputs are generated in set-up from the
seed. The reference digest is computed once per run through an independent
path (the exact-SQL engine and the union-window as-of, or a full recompute),
and every call's output digest is compared with it outside the timed region.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import gen

GAP_SECONDS = 1800.0

# input sizes; "tiny" is for the self-test only
SIZES = {
    "full": {
        "asof_probes": {"convs": 2000, "turns_mean": 40, "hot": 100, "probes": 40},
        "incremental_delta": {"convs": 2000, "turns_mean": 40, "hot": 100},
    },
    "tiny": {
        "asof_probes": {"convs": 100, "turns_mean": 10, "hot": 10, "probes": 10},
        "incremental_delta": {"convs": 300, "turns_mean": 10, "hot": 10},
    },
}


def digest(df: DataFrame) -> tuple[int, str]:
    """Order-independent digest: row count and the exact sum of xxhash64 over
    all columns (taken in name order, so column order does not matter)."""
    h = F.xxhash64(*[F.col(c) for c in sorted(df.columns)])
    row = df.agg(
        F.count(F.lit(1)).alias("n"), F.sum(h.cast("decimal(38,0)")).alias("s")
    ).first()
    return int(row["n"]), str(row["s"] or 0)


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def exact_features(turns: DataFrame) -> DataFrame:
    """The reference feature table: the exact-SQL engine at r6 rounding,
    bit-equal to the Arrow kernel."""
    from flow_feature_spark.features import session_features_exact_sql
    from flow_feature_spark.prepare import normalize_turns
    from flow_feature_spark.sessionize import dedup_turns

    return session_features_exact_sql(
        dedup_turns(normalize_turns(turns)), GAP_SECONDS, rounding="r6"
    )


class Workload:
    """One workload bound to a work directory. ``prepare`` builds the inputs
    (untimed); ``call`` is the timed job call; ``output`` is what the gate
    checks."""

    name = ""
    # the spans the job call's trace span extends (its self time excludes them)
    job_covers: tuple[str, ...] = ()

    def __init__(self, spark: SparkSession, work: str, seed: int, size: dict, master: str):
        self.spark, self.work, self.seed, self.size, self.master = (
            spark, work, seed, size, master,
        )
        self.out = os.path.join(work, "out")
        self.rows = 0  # stated input rows, set by prepare()

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def transcripts(self) -> DataFrame:
        z = self.size
        return gen.transcripts(self.spark, z["convs"], z["turns_mean"], z["hot"], self.seed)

    def write_input(self, df: DataFrame, name: str) -> str:
        p = self.path(name)
        df.write.parquet(p)
        return p

    def call(self) -> None:
        from flow_feature_spark.job import run

        rc = run(self.argv())
        if rc != 0:
            raise RuntimeError(f"job.run returned {rc}")

    def before_call(self) -> None:
        """Untimed reset before each call."""

    def output(self) -> DataFrame:
        return self.spark.read.parquet(self.out)

    def written_roots(self) -> list[str]:
        """Directories whose new files count as the call's writes."""
        return [self.out]

    def write_amplification(self, new_files: dict[str, int]) -> float:
        return 0.0

    # -- per workload ------------------------------------------------------
    def prepare(self) -> dict[str, str]:
        """Generate the inputs; returns their paths by name."""
        raise NotImplementedError

    def argv(self) -> list[str]:
        raise NotImplementedError

    def reference(self) -> tuple[int, str]:
        """The digest every call's output must reproduce."""
        raise NotImplementedError

    def chain(self) -> list[tuple[str, object, tuple[str, ...]]]:
        """Trace spans in the order the CLI builds the pipeline: (name, frame
        or callable returning one, spans it extends). Each is materialized
        to a noop sink; the job call follows as the last span."""
        raise NotImplementedError

    def trace_counts(self, frames: dict[str, DataFrame]) -> dict:
        """Layer counts from the first traced iteration (untimed)."""
        raise NotImplementedError


class AsofProbes(Workload):
    """Transcripts -> 72-feature session vectors (Arrow kernel) -> strict
    as-of attach to entity x timestamp probes (Arrow sort-merge)."""

    name = "asof_probes"
    job_covers = ("asof.join",)

    def prepare(self):
        z = self.size
        self.turns_path = self.write_input(self.transcripts(), "turns")
        self.probes_path = self.write_input(
            gen.probes(self.spark, z["convs"], z["probes"], self.seed), "probes"
        )
        self.rows = self.spark.read.parquet(self.probes_path).count()
        return {"turns": self.turns_path, "probes": self.probes_path}

    def argv(self):
        return ["--input", self.turns_path, "--output", self.out, "--mode", "asof",
                "--probes", self.probes_path, "--rounding", "r6", "--master", self.master]

    def reference(self):
        from flow_feature_spark.asof import asof_join_union_window
        from flow_feature_spark.kernel import attach_feature_ts

        feats = attach_feature_ts(exact_features(self.spark.read.parquet(self.turns_path)))
        payload = feats.drop("session_start_ts", "session_end_ts")
        probes = self.spark.read.parquet(self.probes_path)
        return digest(asof_join_union_window(payload, probes, strict=True))

    def chain(self):
        from flow_feature_spark.asof import asof_join_fast
        from flow_feature_spark.kernel import attach_feature_ts
        from flow_feature_spark.kernel_fast import sessionize_and_extract_fast
        from flow_feature_spark.prepare import normalize_turns
        from flow_feature_spark.sessionize import dedup_turns

        raw = self.spark.read.parquet(self.turns_path)
        norm = normalize_turns(raw)
        dd = dedup_turns(norm)
        feats = attach_feature_ts(
            sessionize_and_extract_fast(dd, gap_seconds=GAP_SECONDS, rounding="r6")
        )
        payload = feats.drop("session_start_ts", "session_end_ts")
        probes = self.spark.read.parquet(self.probes_path)
        return [
            ("io.scan", raw, ()),
            ("prepare.normalize", norm, ("io.scan",)),
            ("sessionize.dedup", dd, ("prepare.normalize",)),
            ("kernel_fast.extract", feats, ("sessionize.dedup",)),
            ("asof.join", asof_join_fast(payload, probes, strict=True),
             ("kernel_fast.extract",)),
        ]

    def trace_counts(self, frames):
        hit = self.output().filter(F.col("session_id").isNotNull()).count()
        return {
            "sessions_out": frames["kernel_fast.extract"].count(),
            "probes_in": self.rows,
            "match_ratio": hit / self.rows,
        }


class IncrementalDelta(Workload):
    """A delta of turns into snapshot tables holding the rest of the
    transcripts: the delta is the turns with turn_idx >= 2/3 of the mean
    length in the newest 1% of conversations. The tables are restored from
    a pristine copy before every call."""

    name = "incremental_delta"
    # the update = delta preparation + the exact-SQL recompute + the writes
    job_covers = ("sessionize.dedup", "features.exact_sql")

    def prepare(self):
        z = self.size
        newest = z["convs"] - max(1, z["convs"] // 100)
        cid = F.substring("conv_id", 5, 8).cast("long")
        in_delta = (cid >= newest) & (F.col("turn_idx") >= 2 * z["turns_mean"] // 3)
        full = self.transcripts()
        self.base_path = self.write_input(full.filter(~in_delta), "base")
        self.delta_path = self.write_input(full.filter(in_delta), "delta")
        self.turns_table = self.path("turns_table")
        self.features_table = self.path("features_table")
        self.pristine = self.path("pristine")
        # the first incremental call on an empty table initializes it
        from flow_feature_spark.job import run

        run(self._argv(self.base_path))
        for t in (self.turns_table, self.features_table):
            shutil.copytree(t, os.path.join(self.pristine, os.path.basename(t)))
        delta = self.spark.read.parquet(self.delta_path)
        self.rows = delta.count()
        self.touched = [r[0] for r in delta.select("conv_id").distinct().collect()]
        return {"base": self.base_path, "delta": self.delta_path}

    def _argv(self, input_path: str) -> list[str]:
        return ["--input", input_path, "--output", self.out, "--mode", "incremental",
                "--turns-table", self.turns_table, "--features-table",
                self.features_table, "--rounding", "r6", "--master", self.master]

    def argv(self):
        return self._argv(self.delta_path)

    def before_call(self):
        for t in (self.turns_table, self.features_table):
            shutil.rmtree(t)
            shutil.copytree(os.path.join(self.pristine, os.path.basename(t)), t)

    def output(self):
        from flow_feature_spark.io import read_snapshot

        return read_snapshot(self.spark, self.features_table)

    def reference(self):
        both = self.spark.read.parquet(self.base_path).unionByName(
            self.spark.read.parquet(self.delta_path)
        )
        return digest(exact_features(both))

    def chain(self):
        from flow_feature_spark.features import session_features_exact_sql
        from flow_feature_spark.incremental import TURN_COLS
        from flow_feature_spark.io import read_snapshot
        from flow_feature_spark.prepare import normalize_turns
        from flow_feature_spark.sessionize import dedup_turns

        raw = self.spark.read.parquet(self.delta_path)
        norm = normalize_turns(raw)
        delta = dedup_turns(norm)
        # the recompute the update performs, as a span of its own: the
        # touched conversations' full history through the exact-SQL engine
        history = (
            read_snapshot(self.spark, self.turns_table).select(*TURN_COLS)
            .unionByName(delta.select(*TURN_COLS))
            .join(F.broadcast(delta.select("conv_id").distinct()), "conv_id", "left_semi")
        )
        return [
            ("io.scan", raw, ()),
            ("prepare.normalize", norm, ("io.scan",)),
            ("sessionize.dedup", delta, ("prepare.normalize",)),
            ("features.exact_sql",
             session_features_exact_sql(history, GAP_SECONDS, rounding="r6"), ()),
        ]

    def written_roots(self):
        return [self.turns_table, self.features_table]

    def write_amplification(self, new_files):
        """Feature-table bytes written / bytes of the touched convs' feature
        rows written on their own."""
        if not hasattr(self, "touched_bytes"):
            alone = self.path("touched_rows")
            self.output().filter(F.col("conv_id").isin(self.touched)).write.parquet(alone)
            self.touched_bytes = sum(
                os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(alone) for f in fs
            )
        written = sum(s for p, s in new_files.items()
                      if p.startswith(self.features_table + os.sep))
        return written / self.touched_bytes

    def trace_counts(self, frames):
        return {"touched_convs": len(self.touched)}


WORKLOADS = {w.name: w for w in (AsofProbes, IncrementalDelta)}
