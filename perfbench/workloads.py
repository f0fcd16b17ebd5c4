"""The benchmark's workloads: inputs, job lists, and output checks.

A job is one unit the closed-loop client submits and waits for:
either a registry key (build the DataFrame, then materialize every
column through the ``noop`` sink) or a ``JobQueue`` submission that
writes its output files."""

from __future__ import annotations

import csv
import glob
import math
import os
import subprocess
import sys
import time
from collections import Counter
from dataclasses import dataclass, field

from gen import Sizes

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()
GREP_PATTERN = "data"


@dataclass(frozen=True)
class Workload:
    """Why each was chosen: perfbench/README.md."""

    name: str
    sizes: Sizes
    keys: tuple[str, ...] = ()  # registry keys, in pass order
    queue: bool = False  # JobQueue jobs (mr_jobs) instead of keys
    # passes before timing: Catalyst-heavy passes keep getting faster
    # for ~10 passes as the JIT compiles the planner; after one pass
    # how far it got depends on the host's speed of the moment
    warmups: int = 1


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "mr_jobs",
            # the sf0.1 corpus and join inputs (perfbench/README.md: sizes)
            Sizes(customers=1.0, users=0.01, documents=1.0, vectors=0.01, corpus_copies=1),
            queue=True,
        ),
        Workload(
            "sql_analytics",
            Sizes(customers=0.1, users=0.2, documents=0.01, vectors=0.01),
            keys=(
                "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
                "q6_revenue_forecast", "q18_large_orders", "q_top_customer_per_nation",
                "q_events_windowed", "q_asof_last_purchase", "q_events_funnel",
            ),
            warmups=3,
        ),
        Workload(
            "llm_pipeline",
            Sizes(customers=0.01, users=0.01, documents=0.2, vectors=0.25),
            keys=(
                "dedup_exact", "dedup_minhash_lsh", "dedup_semantic_keep",
                "dedup_lsh_br_sweep", "text_tfidf", "text_quality_score",
                "text_top_ngrams", "text_bm25_search", "sim_cosine_topk",
                "sim_ivf_ann", "emb_pq_quantize",
            ),
        ),
        Workload(
            "graph_iterative",
            Sizes(customers=0.05, users=0.01, documents=0.01, vectors=0.01),
            keys=("q_pagerank", "q_graph_triangles", "q_graph_community_lpa", "q_graph_kcore_peel"),
        ),
    )
}


# ---- comparing results ----------------------------------------------


def _cell(v):
    """A result value as a comparable cell: None when missing, numbers
    as float, everything else (arrays included) as a string."""
    import numpy as np
    import pandas as pd

    if isinstance(v, (list, tuple, np.ndarray)):
        return str(list(v.tolist() if isinstance(v, np.ndarray) else v))
    if pd.isna(v):
        return None
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    try:
        return float(v)
    except (TypeError, ValueError):
        return str(v)


def _sort_key(row: tuple) -> tuple:
    """Rows sort by their non-numeric cells first, so float noise
    cannot reorder rows whose other cells differ."""
    other = tuple("" if c is None else c for c in row if not isinstance(c, float))
    return other, tuple(round(c, 2) for c in row if isinstance(c, float))


def _decimals(x: float) -> int | None:
    """The decimal place ``x`` was rounded to (up to 6), if any."""
    for k in range(7):
        if abs(round(x, k) - x) <= 1e-9 * max(1.0, abs(x)):
            return k
    return None


def _numbers_match(a: float, b: float) -> bool:
    """Equal to 1e-9 relative, or one unit apart in the decimal place
    (2nd to 6th) both were rounded to: the program and DuckDB add
    doubles in different orders, and ROUND of the two sums can land on
    either side of a half-unit boundary (seen: q5_local_supplier
    revenue, seed 302)."""
    if math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9):
        return True
    ka, kb = _decimals(a), _decimals(b)
    if ka is None or kb is None or max(ka, kb) < 2:
        return False
    return abs(a - b) <= 10.0 ** -max(ka, kb) * (1 + 1e-6)


def compare_frames(got, want) -> str | None:
    """None when the frames hold the same rows in any order, else what
    differs. Columns are compared by name; strings exactly; numbers by
    :func:`_numbers_match`."""
    cols = sorted(got.columns)
    if len(got) != len(want) or cols != sorted(want.columns):
        return f"{len(got)} rows {cols} vs {len(want)} rows {sorted(want.columns)}"
    rows = [
        sorted((tuple(_cell(v) for v in r) for r in df[cols].itertuples(index=False)), key=_sort_key)
        for df in (got, want)
    ]
    for g, w in zip(*rows):
        for c, x, y in zip(cols, g, w):
            same = _numbers_match(x, y) if isinstance(x, float) and isinstance(y, float) else x == y
            if not same:
                return f"column {c}: {x!r} vs {y!r} in row {g}"
    return None


def oracle_connection(data_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


# ---- the reference pipeline and the JobQueue jobs -------------------


def exec_dir() -> str:
    import distributed_mapreduce_server_spark.mapreduce as mr

    return os.path.join(os.path.dirname(mr.__file__), "exec")


@dataclass(frozen=True)
class QueueJob:
    name: str
    inputs: tuple[str, ...]  # corpus subdirectories
    mapper: str = ""  # exec jobs: script names (with arguments)
    reducer: str = ""
    reducers: int = 1

    def spec(self, corpus: str, out: str):
        from distributed_mapreduce_server_spark.mapreduce.api import grep_job, word_count_job
        from distributed_mapreduce_server_spark.mapreduce.submit import ExecJobSpec, JobSpec

        paths = [os.path.join(corpus, d) for d in self.inputs]
        if self.mapper:
            py, ex = sys.executable, exec_dir()
            return ExecJobSpec(
                input_directory=paths if len(paths) > 1 else paths[0],
                output_directory=out,
                mapper_executable=f"{py} {os.path.join(ex, self.mapper)}",
                reducer_executable=f"{py} {os.path.join(ex, self.reducer)}",
                num_mappers=4,
                num_reducers=self.reducers,
            )
        job = word_count_job("line") if self.name == "spec_wordcount" else grep_job(
            GREP_PATTERN, text_col="line", id_col="file"
        )
        return JobSpec(paths[0], out, job, num_reducers=self.reducers)


QUEUE_JOBS = (
    QueueJob("exec_wordcount", ("docs",), "tok_map.py", "sum_reduce.py", 3),
    QueueJob("exec_grep", ("docs",), f"match_map.py {GREP_PATTERN}", "identity_reduce.py", 2),
    QueueJob("exec_join", ("cust", "ord"), "join_map.py", "join_reduce.py", 3),
    QueueJob("spec_wordcount", ("docs",), reducers=3),
    QueueJob("spec_grep", ("docs",), reducers=2),
)
REFERENCE_OF = {
    "exec_wordcount": "exec_wordcount",
    "exec_grep": "exec_grep",
    "exec_join": "exec_join",
    "spec_wordcount": "exec_wordcount",
    "spec_grep": "exec_grep",
}


def reference_pipeline(corpus: str, job: QueueJob) -> tuple[list[str], float]:
    """The reference's single-host shape, ``cat inputs | mapper |
    LC_ALL=C sort | reducer``; returns (output lines, wall seconds)."""
    py, ex = sys.executable, exec_dir()
    files = sorted(f for d in job.inputs for f in glob.glob(os.path.join(corpus, d, "*.txt")))
    cmd = (
        f"cat {' '.join(files)} | {py} {os.path.join(ex, job.mapper)}"
        f" | LC_ALL=C sort | {py} {os.path.join(ex, job.reducer)}"
    )
    t0 = time.perf_counter()
    out = subprocess.run(["bash", "-c", "set -o pipefail; " + cmd], capture_output=True, text=True, check=True)
    return out.stdout.splitlines(), time.perf_counter() - t0


def queue_output(job: QueueJob, out: str) -> Counter:
    """A finished job's output, as the multiset the reference pipeline
    would print: exec jobs concatenate ``outputfileNN``; declarative
    jobs' CSV part files are turned into the same line shapes."""
    if job.mapper:
        lines: list[str] = []
        for n in range(job.reducers):
            with open(os.path.join(out, f"outputfile{n + 1:02d}")) as f:
                lines.extend(f.read().splitlines())
        return Counter(lines)
    got: Counter = Counter()
    for part in sorted(glob.glob(os.path.join(out, "part-*"))):
        with open(part, newline="") as f:
            for row in csv.DictReader(f):
                if job.name == "spec_wordcount":
                    got[f"{row['key']}\t{row['cnt']}"] += 1
                else:
                    got[row["line"]] += int(row["n"])
    return got


@dataclass
class Checks:
    """Outputs waiting to be compared with their expected values, and
    the failures found so far."""

    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what[:300])
