"""DuckDB twin checks for the operator slice: the registry's oracle SQL
over the same fixture, compared by canonical hash."""
import hashlib
import json
import os

import duckdb

FIXTURE_TABLES = ("lineitem", "embeddings")


def canon_hash(con, rel_sql, cols):
    """md5 over the relation: columns sorted by name, each cast to
    VARCHAR, rows sorted, NULL marked apart from the string 'NULL'."""
    parts = ", ".join(
        f'COALESCE(CAST("{c}" AS VARCHAR), chr(2))' for c in sorted(cols))
    q = (f"SELECT md5(COALESCE(string_agg(r, chr(10) ORDER BY r), '')) "
         f"FROM (SELECT concat_ws(chr(1), {parts}) AS r FROM ({rel_sql}))")
    return con.execute(q).fetchone()[0]


class Twins:
    """One DuckDB connection over the fixture. Each oracle's row count and
    hash are kept in `cache_file`, keyed by its SQL, the Spark output's
    types and the fixture's bytes, so an oracle runs once per checkout."""

    def __init__(self, fixture, oracle_sql, tmp, cache_file):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.con.execute("SET memory_limit = '1GB'")
        self.con.execute(f"SET temp_directory = '{tmp}'")
        for t in FIXTURE_TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(fixture, t)}.parquet'")
        self.oracle_sql = oracle_sql
        self.fixture_digest = hashlib.sha256(b"".join(
            open(os.path.join(fixture, f"{t}.parquet"), "rb").read()
            for t in FIXTURE_TABLES)).hexdigest()
        self.cache_file = cache_file
        self.cache = json.loads(cache_file.read_text()) if cache_file.exists() else {}

    def _oracle(self, name, types):
        key = hashlib.sha256(json.dumps(
            [self.oracle_sql[name], sorted(types.items()), self.fixture_digest]).encode()).hexdigest()
        if key not in self.cache:
            view = f"__oracle_{name}"
            self.con.execute(
                f"CREATE OR REPLACE TEMP TABLE {view} AS {self.oracle_sql[name]}")
            cols = [r[0] for r in self.con.execute(f"DESCRIBE {view}").fetchall()]
            rows = self.con.execute(f"SELECT count(*) FROM {view}").fetchone()[0]
            h = None
            if sorted(cols) == sorted(types):
                # the Spark output's types are the contract
                sel = ", ".join(f'CAST("{c}" AS {types[c]}) AS "{c}"' for c in cols)
                h = canon_hash(self.con, f"SELECT {sel} FROM {view}", cols)
            self.cache[key] = (rows, h)
            self.cache_file.write_text(json.dumps(self.cache))
        return self.cache[key]

    def check(self, name, spark_dir):
        """None when the Spark output equals the twin, else the reason."""
        rel = f"SELECT * FROM '{os.path.join(spark_dir, '*.parquet')}'"
        types = {r[0]: r[1] for r in self.con.execute(f"DESCRIBE {rel}").fetchall()}
        rows = self.con.execute(f"SELECT count(*) FROM ({rel})").fetchone()[0]
        o_rows, o_hash = self._oracle(name, types)
        if o_hash is None:
            return f"{name}: columns differ from the twin"
        if rows != o_rows:
            return f"{name}: {rows} rows, twin has {o_rows}"
        if canon_hash(self.con, rel, list(types)) != o_hash:
            return f"{name}: hash differs from the twin"
        return None

    def close(self):
        self.con.close()
