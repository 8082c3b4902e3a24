"""Workloads, their seeded inputs and the checks on their outputs."""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
import os
import random
from dataclasses import dataclass, field

# The driver-contract test data: one directory per scale factor, next to
# the smoke-test directory the contract names.
import __spark_entry__

DATA_ROOT = os.path.dirname(__spark_entry__.SMOKE_SF_DIR)


def sf_dir(sf: str) -> str:
    return os.path.join(DATA_ROOT, f"sf{sf}")


@dataclass(frozen=True)
class Workload:
    name: str
    # (registry query, scale factor) pairs; empty for the pipeline.
    queries: tuple[tuple[str, str], ...] = ()
    # (table, scale factor) pairs the queries read, touched at set-up.
    tables: tuple[tuple[str, str], ...] = ()
    # hn_pipeline input size: raw batch files and items per file.
    batches: int = 0
    items: int = 0
    # Passes between the cold pass and the warm passes, run but not
    # reported: the JIT is still compiling the build path during them.
    warmup_passes: int = 0
    # Warm passes a run makes at least: four where a pass is short, one
    # where a pass alone is a quarter of the run.
    warm_passes: int = 1
    # Warm passes a run may add while fewer than ``warm_passes`` were
    # undisturbed by hypervisor steal.
    extra_passes: int = 0


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "iterative",
            queries=(("customer_golden_records", "0.01"),),
            tables=(("customer", "0.01"),),
            warmup_passes=1,
            warm_passes=4,
            extra_passes=2,
        ),
        Workload("hn_pipeline", batches=2, items=2000),
    )
}

TESTDATA_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


# -- query outputs against the DuckDB oracles -----------------------------

def _norm(v) -> str:
    if v is None:
        return "~"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return f"dec:{v}"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, list):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return f"{type(v).__name__}:{v}"


def digest(cols: list[str], rows: list[tuple]) -> dict:
    """Row count, column names and an order-insensitive value hash,
    normalised as the driver-contract emulation does."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_norm(r[i]) for i in idx) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode("utf-8")).hexdigest()
    return {"rows": len(rows), "cols": sorted(cols), "hash": h}


def _oracle_key(data_dir: str, sql: str) -> str:
    h = hashlib.sha256(sql.encode("utf-8"))
    for t in TESTDATA_TABLES:
        st = os.stat(os.path.join(data_dir, f"{t}.parquet"))
        h.update(f"{data_dir}/{t}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()


class OracleCache:
    """DuckDB oracle digests, computed once per data dir and SQL text
    and kept in a JSON file across runs."""

    def __init__(self, path: str):
        self.path = path
        self.entries: dict[str, dict] = {}
        if os.path.isfile(path):
            with open(path, encoding="utf-8") as fh:
                self.entries = json.load(fh)

    def get(self, data_dir: str, sql: str) -> dict:
        key = _oracle_key(data_dir, sql)
        if key not in self.entries:
            import duckdb

            con = duckdb.connect()
            try:
                for t in TESTDATA_TABLES:
                    con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{data_dir}/{t}.parquet'"
                    )
                cur = con.execute(sql)
                cols = [d[0] for d in cur.description]
                self.entries[key] = digest(cols, cur.fetchall())
            finally:
                con.close()
            os.makedirs(os.path.dirname(self.path), exist_ok=True)
            tmp = self.path + f".{os.getpid()}.tmp"
            with open(tmp, "w", encoding="utf-8") as fh:
                json.dump(self.entries, fh)
            os.replace(tmp, self.path)
        return self.entries[key]


# -- hn_pipeline inputs and expected outputs ------------------------------

@dataclass
class HnExpected:
    # Per batch file, in name order: (file name, rows, inserted, updated).
    loads: list[tuple[str, int, int, int]] = field(default_factory=list)
    staging_ids: int = 0
    stories: int = 0


_DOMAINS = ("https://example.com/a", "http://News.Example.org/x?y=1",
            "https://blog.test/p/", "", None)
_BASE_TIME = 1_704_067_200 - 3600  # 2023-12-31T23:00Z: spans midnights


def _item_type(item_id: int, seed: int) -> str:
    r = (item_id * 2654435761 + seed) % 10
    return "story" if r < 8 else ("comment" if r == 8 else "job")


def make_hn_batches(
    raw_dir: str, seed: int, batches: int, items: int
) -> HnExpected:
    """Write ``batches`` raw files of ``items`` items each and compute,
    in pure Python, what the pipeline must report and publish.

    Ids overlap between batches, so later merges both insert and update;
    a few ids repeat inside a file (the pipeline keeps the last) and a
    few array entries are ``null`` (the pipeline drops them). Batch
    timestamps rise with the file name, so every overlapping id updates.
    """
    rng = random.Random(seed)
    os.makedirs(raw_dir, exist_ok=True)
    id_space = int(items * batches * 0.6)
    seen: set[int] = set()
    exp = HnExpected()
    for b in range(batches):
        ids = rng.sample(range(1, id_space + 1), items)
        records = []
        for i in ids + rng.sample(ids, items // 100):
            records.append({
                "id": i,
                "type": _item_type(i, seed),
                "by": None if i % 37 == 0 else f"user{i % 211}",
                "time": _BASE_TIME + (i * 7919) % (3 * 86400),
                "title": f"item {i} — batch {b}",
                "url": _DOMAINS[i % len(_DOMAINS)],
                "score": rng.randrange(500) if rng.random() > 0.05 else None,
                "descendants": rng.randrange(80) if i % 5 else None,
                "kids": [i * 10 + k for k in range(i % 4)] if i % 3 else None,
                "text": None,
            })
        for _ in range(3):
            records.insert(rng.randrange(len(records)), None)
        name = f"hn_raw_202401{b + 1:02d}_120000.json"
        with open(os.path.join(raw_dir, name), "w", encoding="utf-8") as fh:
            json.dump(records, fh)
        distinct = set(ids)
        if b == 0:
            exp.loads.append((name, len(distinct), len(distinct), 0))
        else:
            exp.loads.append(
                (name, len(distinct), len(distinct - seen), len(distinct & seen))
            )
        seen |= distinct
    exp.staging_ids = len(seen)
    exp.stories = sum(1 for i in seen if _item_type(i, seed) == "story")
    return exp


def check_hn_output(out: str, exp: HnExpected) -> list[str]:
    """Compare one pipeline run's warehouse with the expected counts.
    Reads the files with pyarrow, so no Spark job runs. Returns the
    mismatches (empty when the output is correct)."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    errors = []
    audit = ds.dataset(os.path.join(out, "audit_runs")).to_table().to_pylist()
    final = {}
    for rec in sorted(audit, key=lambda r: r["status"] != "running"):
        final[rec["run_id"]] = rec
    phases = sorted(final.values(), key=lambda r: r["started_at"])
    bad = [r["phase"] for r in phases if r["status"] != "success"]
    if bad:
        errors.append(f"audit phases not successful: {bad}")
    loads = [
        (r["source_file"], r["rows_copied"], r["rows_merged_inserted"],
         r["rows_merged_updated"])
        for r in phases if r["phase"] == "load"
    ]
    if loads != exp.loads:
        errors.append(f"load metrics {loads} != expected {exp.loads}")
    names = [r["phase"] for r in phases if r["phase"] != "load"]
    if names != ["staging_publish", "mart"]:
        errors.append(f"audit phases after loads: {names}")
    ids = ds.dataset(os.path.join(out, "staging")).to_table(columns=["id"])
    distinct = len(pc.unique(ids["id"]))
    if (ids.num_rows, distinct) != (exp.staging_ids, exp.staging_ids):
        errors.append(
            f"staging rows {ids.num_rows} / distinct ids {distinct} "
            f"!= {exp.staging_ids}"
        )
    marts = os.path.join(out, "marts")
    with open(os.path.join(marts, "_CURRENT"), encoding="utf-8") as fh:
        version = fh.read().strip()
    daily = ds.dataset(
        os.path.join(marts, f"v={version}", "daily_story_metrics")
    ).to_table(columns=["stories_count"])
    stories = pc.sum(daily["stories_count"]).as_py()
    if stories != exp.stories:
        errors.append(f"daily stories {stories} != {exp.stories}")
    return errors


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )
