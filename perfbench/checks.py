"""Output checks, run after timing and untimed.

Query ops are checked against their registered DuckDB oracles with the
repo's own comparison (`tools/check_oracle.py:compare`). An ETL chain is
checked from what it left on disk: both parquet landings against the job 1
and job 2 oracles, the PNG by decoding it, and the stream rollup by its row
count against ROLLUP_COUNT_SQL below.
"""

from __future__ import annotations

import importlib.util
import os
import struct
import sys
import zlib

import duckdb

# cli.run_jobs renders the world map at the encoder's default size.
PNG_SIZE = (720, 360)

# Rows the job-3 rollup must hold after one availableNow run over the events
# table: one per (10-minute tumbling window, event_type), emitted in append
# mode only once the 1-hour watermark (max event time - 1 h) has passed the
# window's end.
ROLLUP_COUNT_SQL = """
WITH e AS (SELECT epoch_us(ts) AS us, event_type FROM events),
groups AS (SELECT DISTINCT us // 600000000 AS w, event_type FROM e),
wm AS (SELECT max(us) - 3600000000 AS us FROM e)
SELECT count(*) FROM groups, wm WHERE (groups.w + 1) * 600000000 <= wm.us
"""


class Rows:
    """Collected rows in the shape `compare` reads from a Spark frame."""

    def __init__(self, columns: list[str], rows: list):
        self.columns = columns
        self._rows = rows

    def collect(self) -> list:
        return self._rows


def _load_check_oracle(root: str):
    path = os.path.join(root, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("perfbench_check_oracle", path)
    module = importlib.util.module_from_spec(spec)
    saved = list(sys.path)
    try:
        spec.loader.exec_module(module)
    finally:
        sys.path[:] = saved  # it prepends a fixed checkout path; keep ours
    return module


class Checker:
    """DuckDB views over the fixture plus one cached oracle result per query."""

    def __init__(self, root: str, sf_dir: str, oracle_sql: dict[str, str]):
        check_oracle = _load_check_oracle(root)
        self._compare = check_oracle.compare
        self._oracle_sql = oracle_sql
        self._results: dict[str, tuple[list[str], list]] = {}
        self.con = duckdb.connect()
        for t in check_oracle.TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )

    def _oracle(self, name: str) -> tuple[list[str], list]:
        if name not in self._results:
            rel = self.con.execute(self._oracle_sql[name])
            self._results[name] = ([d[0] for d in rel.description], rel.fetchall())
        return self._results[name]

    def rows(self, name: str, columns: list[str], rows: list) -> str | None:
        """None if the rows equal the oracle's, else the mismatch."""
        if name not in self._oracle_sql:
            return f"no oracle registered for {name}"
        cols, expected = self._oracle(name)
        return self._compare(name, Rows(columns, rows), expected, cols)

    def etl(self, outputs: dict[str, str], run_key: str) -> str | None:
        """None if every artifact of one cli.run_jobs chain is right."""
        for job, name in (("prices", "steam_job1_prices_etl"), ("worldmap", "world_map_job2_deviation")):
            rel = self.con.execute(
                "SELECT * FROM read_parquet(?, hive_partitioning = false)",
                [os.path.join(outputs[job], f"run_key={run_key}", "*.parquet")],
            )
            err = self.rows(name, [d[0] for d in rel.description], rel.fetchall())
            if err:
                return f"{job} landing: {err}"
        err = png_error(outputs["worldmap_png"], PNG_SIZE)
        if err:
            return f"png: {err}"
        got = self.con.execute(
            "SELECT count(*) FROM read_parquet(?)",
            [os.path.join(outputs["events_rollup"], "*.parquet")],
        ).fetchone()[0]
        want = self.con.execute(ROLLUP_COUNT_SQL).fetchone()[0]
        if got != want:
            return f"events rollup: {got} rows, expected {want}"
        return None

    def close(self) -> None:
        self.con.close()


def png_error(path: str, size: tuple[int, int]) -> str | None:
    """None if `path` is an 8-bit RGB PNG of `size` whose pixel data
    inflates to exactly one filter byte plus width*3 bytes per row."""
    with open(path, "rb") as f:
        data = f.read()
    if data[:8] != b"\x89PNG\r\n\x1a\n":
        return "bad signature"
    pos, idat, header = 8, b"", None
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        kind = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        if zlib.crc32(kind + body) != struct.unpack(">I", data[pos + 8 + length : pos + 12 + length])[0]:
            return f"bad CRC in {kind!r}"
        if kind == b"IHDR":
            header = struct.unpack(">IIBB", body[:10])
        elif kind == b"IDAT":
            idat += body
        pos += 12 + length
    if header is None:
        return "no IHDR"
    width, height, depth, color = header
    if (width, height) != size or (depth, color) != (8, 2):
        return f"got {width}x{height} depth {depth} color {color}, expected {size[0]}x{size[1]} RGB8"
    if len(zlib.decompress(idat)) != height * (1 + width * 3):
        return "pixel data size does not match the header"
    return None
