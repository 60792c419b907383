"""The benchmark's workloads: each one prepares its inputs, runs one
operation, and checks that operation's outputs.

Every operation does the same work: it writes into a fresh output
directory, starts with the session's caches cleared, and reads its inputs
back from parquet, so no lineage carries over from an earlier operation.
Package code is reached only through module attributes of its public
entry points (``etl_job.run_etl``, ``occupancy.rebuild_occupancy``,
``dedup.*``, ``io.write_snapshot``), which is what lets the traced run
wrap them.
"""

from __future__ import annotations

import os
from datetime import datetime

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from uma_etl_iis_loader_spark import io
from uma_etl_iis_loader_spark.functions.normalize import DAY_NAMES
from uma_etl_iis_loader_spark.operators import dedup, occupancy
from uma_etl_iis_loader_spark.plans import etl_job

from . import gen

IIS_OUTPUTS = (
    "system_state",
    "faculties",
    "departments",
    "specialities",
    "student_groups",
    "employees",
    "departments_employees",
    "auditories",
    "schedule_json_storage",
    "schedule_events",
    "schedule_quarantine",
    "occupancy_index",
)
IIS_SEED_TABLES = IIS_OUTPUTS[:9]


class CheckFailed(Exception):
    """An operation's output differs from what the workload expects."""


def _expect(what: str, got, want) -> None:
    if got != want:
        raise CheckFailed(f"{what}: got {got!r}, expected {want!r}")


def parquet_rows(path: str) -> int:
    """Row count of a parquet directory from the file footers."""
    return sum(
        pq.read_metadata(os.path.join(path, f)).num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def write_parts(table: pa.Table, path: str, files: int = 8) -> None:
    """Write ``table`` as ``files`` parquet files, so a scan has a task
    per file."""
    os.makedirs(path)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(
            table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet")
        )


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class Workload:
    """One benchmark workload.  ``prepare`` makes the inputs once, ``op``
    is the timed operation, ``check`` raises :class:`CheckFailed` on a
    wrong output."""

    name = ""
    warmup_ops = 2  # untimed operations at the end of set-up
    min_ops = 3  # timed operations even when --seconds runs out first

    def __init__(self, spark, seed: int, size: str = "full"):
        self.spark, self.seed, self.size = spark, seed, size
        self.payload_bytes = 1
        self.info: dict = {}
        self.observed: dict = {}  # counts seen by the last check

    def generate(self) -> None:
        raise NotImplementedError

    def prepare(self, inputs_dir: str) -> None:
        raise NotImplementedError

    def expect(self) -> None:
        """Expected outputs that need the prepared inputs (run once)."""

    def candidate_pairs(self) -> int:
        """LSH candidate pairs, for the traced run's pair yield."""
        return 0

    def op(self, outdir: str):
        raise NotImplementedError

    def check(self, outdir: str, result) -> None:
        raise NotImplementedError


class IisResync(Workload):
    """Nightly incremental sync: the seed state written by an initial load
    is read back and re-synced with a payload that changes every
    endpoint."""

    name = "iis_resync"
    # The initial load in set-up is the cold pass over run_etl and
    # write_snapshot.  An operation costs ~13-18 s on a 4-core host, so
    # a further untimed one, or a third timed one, would not let 22 runs
    # of each listed workload fit in an hour; the median of two
    # operations spread no wider across runs than that of three.
    warmup_ops = 0
    min_ops = 2

    def generate(self) -> None:
        self.inputs = gen.iis_payloads(self.seed, self.size)
        self.payload_bytes = self.inputs.payload_bytes
        self.info = {
            "lessons": self.inputs.lessons,
            "payload_mb": round(self.payload_bytes / 1e6, 1),
            "groups": len(self.inputs.api_resync["student_groups"]),
            "employees": len(self.inputs.api_resync["employees"]),
            "docs": len(self.inputs.api_resync["schedules"]),
            "change_mix": gen.CHANGE_MIX,
        }

    def prepare(self, inputs_dir: str) -> None:
        self.spark.catalog.clearCache()
        out = etl_job.run_etl(self.spark, self.inputs.api_load, now_ts=gen.T1)
        for name in IIS_SEED_TABLES:
            io.write_snapshot(out[name], os.path.join(inputs_dir, name))
        for name in IIS_SEED_TABLES:
            _expect(
                f"load {name} rows",
                parquet_rows(os.path.join(inputs_dir, name)),
                self.inputs.truth_load["counts"][name],
            )
        self.seed_dir = inputs_dir

    def op(self, outdir: str):
        self.spark.catalog.clearCache()
        seed = {
            name: self.spark.read.parquet(os.path.join(self.seed_dir, name))
            for name in IIS_SEED_TABLES
        }
        out = etl_job.run_etl(
            self.spark, self.inputs.api_resync, now_ts=gen.T2, initial=seed
        )
        for name in IIS_OUTPUTS:
            io.write_snapshot(out[name], os.path.join(outdir, name))
        return None

    def check(self, outdir: str, result) -> None:
        truth = self.inputs.truth_resync
        rows = {name: parquet_rows(os.path.join(outdir, name)) for name in IIS_OUTPUTS}
        self.observed = {
            "rows.quarantined": rows["schedule_quarantine"],
            "rows.schedule_events": rows["schedule_events"],
            "rows.occupancy_index": rows["occupancy_index"],
        }
        for name in IIS_OUTPUTS:
            _expect(f"{name} rows", rows[name], truth["counts"][name])
        groups = pq.read_table(
            os.path.join(outdir, "student_groups"), columns=["valid_from", "valid_to"]
        )
        closed = groups.num_rows - groups["valid_to"].null_count
        t2 = pa.scalar(datetime.fromisoformat(gen.T2), groups["valid_from"].type)
        opened = pc.sum(pc.equal(groups["valid_from"], t2)).as_py()
        self.observed.update({"rows.scd2_closed": closed, "rows.scd2_opened": opened})
        _expect("scd2 closed rows", closed, truth["scd2_closed"])
        _expect("scd2 opened rows", opened, truth["scd2_opened"])
        blobs = pq.read_table(
            os.path.join(outdir, "schedule_json_storage"), columns=["valid_to"]
        )
        _expect(
            "blob versions closed",
            blobs.num_rows - blobs["valid_to"].null_count,
            truth["blobs_closed"],
        )


_DAY_CASE = " ".join(f"WHEN {k} THEN '{v}'" for k, v in DAY_NAMES.items())
_EXPLODED_FROM = """
WITH x AS (
    SELECT entity_name, day_of_week, start_time, end_time, week_numbers,
           unnest(auditories) AS aud
    FROM read_parquet('{events}/*.parquet')
    WHERE entity_type = 'group' AND day_of_week IS NOT NULL),
y AS (
    SELECT x.*, a.id AS auditory_id
    FROM x JOIN read_parquet('{auds}/*.parquet') a ON a.name = x.aud),
z AS (
    SELECT entity_name, day_of_week, start_time, end_time, auditory_id,
           unnest(week_numbers) AS week_number
    FROM y)
"""
_OCCUPANCY_SQL = (
    _EXPLODED_FROM
    + f"""
SELECT CASE day_of_week {_DAY_CASE} END AS day_of_week, week_number,
       start_time, end_time, auditory_id,
       list_sort(list(DISTINCT entity_name)) AS groups
FROM z
GROUP BY ALL
"""
)
# order-insensitive: a sum of per-row hashes, groups sorted first
_DIGEST_SQL = """
SELECT count(*), sum(hash(day_of_week, week_number, start_time, end_time,
                          auditory_id, list_sort(groups)))::VARCHAR
FROM ({rows})
"""


def _duck():
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    return con


class OccupancyRebuild(Workload):
    """The read side at data scale: the occupancy index rebuilt from a
    ``SCHEDULE_EVENTS`` table of about 10^6 rows (TRUNCATE+INSERT)."""

    name = "occupancy_rebuild"

    def generate(self) -> None:
        self.events, self.auds = gen.schedule_events_table(self.seed, self.size)
        self.info = {"events": self.events.num_rows, "auditories": self.auds.num_rows}

    def prepare(self, inputs_dir: str) -> None:
        self.events_dir = os.path.join(inputs_dir, "schedule_events")
        self.auds_dir = os.path.join(inputs_dir, "auditories")
        write_parts(self.events, self.events_dir)
        write_parts(self.auds, self.auds_dir, files=1)
        self.payload_bytes = dir_bytes(self.events_dir)

    def expect(self) -> None:
        paths = {"events": self.events_dir, "auds": self.auds_dir}
        with _duck() as con:
            self.expected = con.execute(
                _DIGEST_SQL.format(rows=_OCCUPANCY_SQL.format(**paths))
            ).fetchone()
        self.info["occupancy_rows"] = self.expected[0]

    def op(self, outdir: str):
        self.spark.catalog.clearCache()
        events = self.spark.read.parquet(self.events_dir)
        auds = self.spark.read.parquet(self.auds_dir)
        occ = occupancy.rebuild_occupancy(events, auds)
        io.write_snapshot(occ, os.path.join(outdir, "occupancy_index"))
        return None

    def check(self, outdir: str, result) -> None:
        rows = f"SELECT * FROM read_parquet('{outdir}/occupancy_index/*.parquet')"
        with _duck() as con:
            got = con.execute(_DIGEST_SQL.format(rows=rows)).fetchone()
        self.observed = {"rows.occupancy_index": got[0]}
        _expect("occupancy (rows, digest)", got, self.expected)


def word_grams(text: str, n: int = 3) -> set:
    words = text.lower().split()
    return {" ".join(words[i : i + n]) for i in range(max(len(words) - n + 1, 0))}


class DedupCuration(Workload):
    """LLM-data curation: exact dedup, MinHash-LSH near-duplicate pairs,
    then one survivor per near-duplicate cluster."""

    name = "dedup_curation"
    warmup_ops = 1
    threshold = 0.5
    max_pairs = 50_000  # bound on the driver collect in the check

    def generate(self) -> None:
        self.corpus = gen.dedup_corpus(self.seed, self.size)
        self.texts = self.corpus.table["text"].to_pylist()
        self.info = {
            "docs": self.corpus.table.num_rows,
            "exact_copies": len(self.corpus.exact_copies),
            "near_copies": len(self.corpus.near_copies),
            "exact_share": gen.EXACT_SHARE,
            "near_share": gen.NEAR_SHARE,
        }
        self.survivors = None

    def prepare(self, inputs_dir: str) -> None:
        self.corpus_dir = os.path.join(inputs_dir, "corpus")
        write_parts(self.corpus.table, self.corpus_dir)
        self.payload_bytes = dir_bytes(self.corpus_dir)

    lsh = {"num_hashes": 64, "bands": 16, "n": 3, "char_level": False}

    def distinct_docs(self):
        docs = self.spark.read.parquet(self.corpus_dir)
        keep = dedup.exact_dedup(docs).select(F.col("keep_id").alias("doc_id"))
        return docs.join(keep, "doc_id", "left_semi")

    def candidate_pairs(self) -> int:
        stats = dedup.lsh_bucket_stats(self.distinct_docs(), **self.lsh)
        n = F.col("n_docs")
        return int(stats.agg(F.sum(n * (n - 1) / 2)).collect()[0][0] or 0)

    def op(self, outdir: str):
        self.spark.catalog.clearCache()
        distinct_docs = self.distinct_docs()
        pairs = dedup.minhash_lsh_pairs(
            distinct_docs, threshold=self.threshold, **self.lsh
        )
        kept = dedup.deduplicate_corpus(distinct_docs, pairs)
        io.write_snapshot(kept, os.path.join(outdir, "corpus"))
        return pairs

    def check(self, outdir: str, pairs) -> None:
        ids = set(
            pq.read_table(os.path.join(outdir, "corpus"), columns=["doc_id"])[
                "doc_id"
            ].to_pylist()
        )
        left = ids & self.corpus.exact_copies
        _expect("planted exact copies left", len(left), 0)
        emitted = pairs.limit(self.max_pairs + 1).collect()
        if len(emitted) > self.max_pairs:
            raise CheckFailed(f"more than {self.max_pairs} pairs emitted")
        for a, b in emitted:
            ga, gb = word_grams(self.texts[a]), word_grams(self.texts[b])
            jac = len(ga & gb) / len(ga | gb)
            if jac < self.threshold:
                raise CheckFailed(f"pair ({a}, {b}) has Jaccard {jac:.3f}")
        self.observed = {"dedup.verified_pairs": len(emitted)}
        if self.survivors is None:
            self.survivors = len(ids)
        _expect("survivors", len(ids), self.survivors)


WORKLOADS = {w.name: w for w in (IisResync, OccupancyRebuild, DedupCuration)}
