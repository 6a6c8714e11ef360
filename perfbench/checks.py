"""Output checks that share no code with Spark: DuckDB computes what each
operation should return from the generated parquet, pyarrow reads what the
engine wrote. Every function returns a list of problems (empty = correct)
and runs outside the timed regions.
"""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds

CODEC_STATS = ("cnt", "vsum", "vmin", "vmax", "vsumsq", "vfirst", "vlast")
_BUCKET = {
    "1h": "date_trunc('hour', warc_ts)",
    "1d": "date_trunc('day', warc_ts)",
    # epoch-aligned 7-day floor, the same alignment as the engine's 7D tier
    "7d": "to_timestamp(floor(epoch(warc_ts) / 604800) * 604800)::TIMESTAMP",
}


def oracle_tiers(source_glob: str) -> dict[str, pa.Table]:
    """Expected 1h/1d/7d tiers of a source, sorted by (url, bucket_ts).

    The engine does not define which value wins when two rows of a url
    share the first (or last) timestamp of a bucket, so ``vfirst``/``vlast``
    are given as the [lo, hi] range of the values at that timestamp."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    out = {}
    for tier, bucket in _BUCKET.items():
        out[tier] = con.execute(
            f"""
            WITH s AS (
              SELECT url, warc_ts::TIMESTAMP AS warc_ts,
                     length(text)::DOUBLE AS v, {bucket} AS bucket_ts
              FROM read_parquet('{source_glob}')
            ), b AS (
              SELECT url, bucket_ts, count(v) AS cnt, sum(v) AS vsum,
                     min(v) AS vmin, max(v) AS vmax, sum(v * v) AS vsumsq,
                     min(warc_ts) AS first_ts, max(warc_ts) AS last_ts
              FROM s GROUP BY url, bucket_ts
            )
            SELECT b.url, b.bucket_ts, b.cnt, b.vsum, b.vmin, b.vmax, b.vsumsq,
                   min(s.v) FILTER (WHERE s.warc_ts = b.first_ts) AS vfirst_lo,
                   max(s.v) FILTER (WHERE s.warc_ts = b.first_ts) AS vfirst_hi,
                   b.first_ts,
                   min(s.v) FILTER (WHERE s.warc_ts = b.last_ts) AS vlast_lo,
                   max(s.v) FILTER (WHERE s.warc_ts = b.last_ts) AS vlast_hi,
                   b.last_ts
            FROM b JOIN s USING (url, bucket_ts)
            GROUP BY ALL ORDER BY b.url, b.bucket_ts
            """
        ).arrow()
    con.close()
    return out


def read_tier(store_base: str, tier: str) -> pa.Table:
    """A tier as the engine wrote it, read with pyarrow, sorted."""
    t = ds.dataset(
        str(Path(store_base) / f"tier={tier}"), format="parquet", partitioning="hive"
    ).to_table()
    return t.sort_by([("url", "ascending"), ("bucket_ts", "ascending")])


def _ts(col) -> np.ndarray:
    return pc.cast(col, pa.timestamp("us")).to_numpy(zero_copy_only=False).astype("int64")


def compare_tier(got: pa.Table, want: pa.Table, label: str) -> list[str]:
    """All 9 stats of a tier against the oracle rows (same order)."""
    if got.num_rows != want.num_rows:
        return [f"{label}: {got.num_rows} rows, expected {want.num_rows}"]
    if got.num_rows == 0:
        return []
    problems = []
    if got.column("url").to_pylist() != want.column("url").to_pylist():
        problems.append(f"{label}: url column differs")
    for c in ("bucket_ts", "first_ts", "last_ts"):
        if not np.array_equal(_ts(got.column(c)), _ts(want.column(c))):
            problems.append(f"{label}: {c} differs")
    for c in ("cnt", "vsum", "vmin", "vmax", "vsumsq"):
        g = got.column(c).to_numpy(zero_copy_only=False).astype("float64")
        w = want.column(c).to_numpy(zero_copy_only=False).astype("float64")
        if not np.array_equal(g, w):
            problems.append(f"{label}: {c} differs in {int((g != w).sum())} rows")
    for c in ("vfirst", "vlast"):
        g = got.column(c).to_numpy(zero_copy_only=False)
        lo = want.column(c + "_lo").to_numpy(zero_copy_only=False)
        hi = want.column(c + "_hi").to_numpy(zero_copy_only=False)
        bad = ~((g >= lo) & (g <= hi))
        if bad.any():
            problems.append(f"{label}: {c} outside the tied values in {int(bad.sum())} rows")
    return problems


def check_store(store_base: str, want: dict[str, pa.Table], min_1h_date: dt.date | None = None) -> list[str]:
    """Every tier of a store against the oracle; with ``min_1h_date`` the
    1h tier is expected to hold only buckets on or after that date."""
    problems = []
    for tier, w in want.items():
        if tier == "1h" and min_1h_date is not None:
            cut = pa.scalar(dt.datetime.combine(min_1h_date, dt.time()), pa.timestamp("us"))
            w = w.filter(pc.greater_equal(pc.cast(w.column("bucket_ts"), pa.timestamp("us")), cut))
        problems += compare_tier(read_tier(store_base, tier), w, f"tier {tier}")
    return problems


def check_retention(store_base: str, dropped: dict, all_1h_dates: list[str], cutoff: dt.date) -> list[str]:
    expect = sorted(d for d in all_1h_dates if dt.date.fromisoformat(d) < cutoff)
    problems = []
    if sorted(dropped.get("1h", [])) != expect:
        problems.append(f"retention dropped {dropped.get('1h', [])}, expected {expect}")
    if set(dropped) - {"1h"}:
        problems.append(f"retention dropped coarse partitions {dropped}")
    left = sorted(p.name.split("=", 1)[1] for p in Path(store_base, "tier=1h").glob("bucket_date=*"))
    if left != sorted(set(all_1h_dates) - set(expect)):
        problems.append("1h partitions left after retention differ from the expected set")
    return problems


def tree_state(base: str) -> dict[str, tuple[int, int]]:
    """(size, mtime) of every file under a directory."""
    return {
        str(p.relative_to(base)): (p.stat().st_size, p.stat().st_mtime_ns)
        for p in Path(base).rglob("*")
        if p.is_file()
    }


def check_lookup(rows: list, want: pa.Table, url: str, tier: str) -> list[str]:
    """A lookup's rows against a pyarrow filter of the oracle tier."""
    sel = want.filter(pc.equal(want.column("url"), url))
    got = sorted(rows, key=lambda r: r["bucket_ts"])
    if len(got) != sel.num_rows:
        return [f"lookup {tier} {url}: {len(got)} rows, expected {sel.num_rows}"]
    exp_ts = _ts(sel.column("bucket_ts"))
    got_ts = np.array([int(r["bucket_ts"].replace(tzinfo=dt.timezone.utc).timestamp() * 1e6) for r in got], dtype="int64")
    if not np.array_equal(got_ts, exp_ts):
        return [f"lookup {tier} {url}: bucket_ts differs"]
    for c in ("cnt", "vsum", "vmin", "vmax", "vsumsq"):
        g = np.array([r[c] for r in got], dtype="float64")
        if not np.array_equal(g, sel.column(c).to_numpy(zero_copy_only=False).astype("float64")):
            return [f"lookup {tier} {url}: {c} differs"]
    return []


def oracle_gap_fill(source_glob: str, lo: dt.date, hi: dt.date) -> pa.Table:
    """Hourly gap fill of the 1h tier over [lo, hi): every url's hours from
    its first to its last bucket in range, counts 0 and values NULL in the
    gaps, with the derived mean and sample std."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    t = con.execute(
        f"""
        WITH h AS (
          SELECT url, date_trunc('hour', warc_ts::TIMESTAMP) AS bucket_ts,
                 count(*) AS cnt, sum(length(text)::DOUBLE) AS vsum,
                 sum(length(text)::DOUBLE * length(text)::DOUBLE) AS vsumsq
          FROM read_parquet('{source_glob}')
          WHERE warc_ts::TIMESTAMP >= TIMESTAMP '{lo}' AND warc_ts::TIMESTAMP < TIMESTAMP '{hi}'
          GROUP BY ALL
        ), span AS (
          SELECT url, unnest(generate_series(min(bucket_ts), max(bucket_ts), INTERVAL 1 HOUR)) AS bucket_ts
          FROM h GROUP BY url
        )
        SELECT span.url, span.bucket_ts, coalesce(h.cnt, 0) AS cnt, h.vsum,
               h.vsum / h.cnt AS vmean,
               CASE WHEN h.cnt > 1 THEN sqrt(greatest((h.vsumsq - h.vsum * h.vsum / h.cnt) / (h.cnt - 1), 0)) END AS vstd
        FROM span LEFT JOIN h USING (url, bucket_ts)
        ORDER BY span.url, span.bucket_ts
        """
    ).arrow()
    con.close()
    return t


def compare_scan(got: pa.Table, want: pa.Table) -> list[str]:
    got = got.sort_by([("url", "ascending"), ("bucket_ts", "ascending")])
    if got.num_rows != want.num_rows:
        return [f"range scan: {got.num_rows} rows, expected {want.num_rows}"]
    problems = []
    if got.column("url").to_pylist() != want.column("url").to_pylist():
        problems.append("range scan: urls differ")
    if not np.array_equal(_ts(got.column("bucket_ts")), _ts(want.column("bucket_ts"))):
        problems.append("range scan: buckets differ")
    for c in ("cnt", "vsum", "vmean", "vstd"):
        g = got.column(c).to_numpy(zero_copy_only=False).astype("float64")
        w = want.column(c).to_numpy(zero_copy_only=False).astype("float64")
        if not np.allclose(g, w, rtol=1e-9, atol=1e-9, equal_nan=True):
            problems.append(f"range scan: {c} differs")
    return problems


def compare_decode(got: pa.Table, tier_1h: pa.Table, urls: set[str]) -> list[str]:
    """Decoded blocks against the stored 1h tier of the same urls, bit for bit."""
    got = got.sort_by([("url", "ascending"), ("bucket_ts", "ascending")])
    want = tier_1h.filter(pc.is_in(tier_1h.column("url"), pa.array(sorted(urls))))
    if got.num_rows != want.num_rows:
        return [f"decode: {got.num_rows} points, expected {want.num_rows}"]
    problems = []
    if got.column("url").to_pylist() != want.column("url").to_pylist():
        problems.append("decode: urls differ")
    if not np.array_equal(_ts(got.column("bucket_ts")), _ts(want.column("bucket_ts"))):
        problems.append("decode: timestamps differ")
    for c in CODEC_STATS:
        g = got.column(c).to_numpy(zero_copy_only=False).astype("float64").view("int64")
        w = want.column(c).to_numpy(zero_copy_only=False).astype("float64").view("int64")
        if not np.array_equal(g, w):
            problems.append(f"decode: {c} not bit-identical")
    return problems


def check_dedup(got: pa.Table, docs_glob: str) -> list[str]:
    """dedup_exact keeps exactly one row per distinct text, the min id."""
    con = duckdb.connect()
    want = con.execute(
        f"SELECT min(doc_id) AS doc_id FROM read_parquet('{docs_glob}') GROUP BY text ORDER BY 1"
    ).arrow()
    con.close()
    ids = np.sort(got.column("doc_id").to_numpy(zero_copy_only=False))
    if len(ids) != want.num_rows:
        return [f"dedup kept {len(ids)} rows, expected {want.num_rows}"]
    if not np.array_equal(ids, want.column("doc_id").to_numpy(zero_copy_only=False)):
        return ["dedup kept other rows than the min id per distinct text"]
    return []
