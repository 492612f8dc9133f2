"""Output checks: order-independent result hashes and DuckDB oracles.

A result is reduced to (row count, multiset hash). Each row becomes a
tuple of normalized cells in sorted column-name order; floats are
compared at 12 significant digits, the precision the engine's oracles
are written to, so the two engines' last-bit differences do not count.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import math

import duckdb

_MASK = (1 << 64) - 1


def _cell(v):
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, int):
        return v
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        if f.is_integer():  # the engines may type a whole number either way
            return int(f)
        return float(f"{f:.12g}") + 0.0
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if hasattr(v, "tolist"):
        return _cell(v.tolist())
    return repr(v)


def digest(columns: list[str], rows) -> tuple[int, str]:
    """(row count, order-independent hash) of ``rows`` whose cells are in
    ``columns`` order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    n = 0
    for r in rows:
        key = repr(tuple(_cell(r[i]) for i in order)).encode()
        total = (total + int.from_bytes(hashlib.blake2b(key, digest_size=8).digest(), "little")) & _MASK
        n += 1
    return n, f"{total:016x}"


def spark_digest(rows, columns: list[str]) -> tuple[int, str]:
    """Digest of collected Spark ``Row`` objects."""
    return digest(columns, (tuple(r) for r in rows))


def cpu_jiffies() -> tuple[int, int]:
    """(runnable, steal) jiffies of the machine since boot, from
    /proc/stat. Runnable is busy (user, nice, system, irq, softirq) plus
    stolen time; idle and iowait are left out, because a vCPU with
    nothing to run cannot have time stolen, so the steal share of an
    interval is the share of the time that wanted a CPU and did not get
    one, whatever the number of cores in use."""
    with open("/proc/stat") as fh:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in fh.readline().split()[1:9]
        )
    return user + nice + system + irq + softirq + steal, steal


def steal_share(j0: tuple[int, int], j1: tuple[int, int]) -> float:
    """The steal share between two ``cpu_jiffies`` readings."""
    return (j1[1] - j0[1]) / max(1, j1[0] - j0[0])


class Oracle:
    """DuckDB over one directory of the generated parquet tables."""

    def __init__(self, data_dir: str, tables):
        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )

    def digest(self, sql: str, params=None) -> tuple[list[str], tuple[int, str]]:
        res = self.con.execute(sql, params or [])
        cols = [d[0] for d in res.description]
        return sorted(cols), digest(cols, res.fetchall())

    def count(self, path: str) -> int:
        """Rows of the parquet dataset (files or Hive partitions) at ``path``."""
        return self.con.execute(
            f"SELECT count(*) FROM read_parquet('{path}/**/*.parquet', hive_partitioning = true)"
        ).fetchone()[0]

    def mismatch(self, sql: str, path: str, key: list[str]) -> str | None:
        """None when the parquet dataset at ``path`` holds exactly the rows
        of ``sql``, matched on the unique ``key`` (floating-point cells equal
        to a relative 1e-9), else what differs. Runs in DuckDB, so a large
        table is never collected to Python."""
        same = []
        for name, typ, *_ in self.con.execute(f"DESCRIBE {sql}").fetchall():
            if name in key:
                continue
            w, g = f'w."{name}"', f'g."{name}"'
            if typ in ("DOUBLE", "FLOAT") or typ.startswith("DECIMAL"):
                same.append(f"(({w} IS NULL) = ({g} IS NULL) AND "
                            f"coalesce(abs({w} - {g}) <= 1e-9 * greatest(1, abs({w})), true))")
            else:
                same.append(f"{w} IS NOT DISTINCT FROM {g}")
        keys = ", ".join(f'"{k}"' for k in key)
        want, got, got_keys, matched = self.con.execute(f"""
            WITH w AS ({sql}),
                 g AS (SELECT * FROM read_parquet('{path}/**/*.parquet', hive_partitioning = true))
            SELECT (SELECT count(*) FROM w), (SELECT count(*) FROM g),
                   (SELECT count(*) FROM (SELECT DISTINCT {keys} FROM g)),
                   (SELECT count(*) FROM w JOIN g USING ({keys}) WHERE {' AND '.join(same)})
        """).fetchone()
        if want == got == got_keys == matched:
            return None
        return f"{got} rows ({got_keys} distinct keys), {matched} of the oracle's {want} equal"

    def close(self) -> None:
        self.con.close()
