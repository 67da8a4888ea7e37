"""Output checks: every op's result is compared with an answer computed
by DuckDB from the same generated files, never by the program itself."""

from __future__ import annotations

import hashlib
import os

import duckdb
import pandas as pd
import pyarrow as pa
from pyspark.sql import functions as F

from changesetmd_spark import entry_queries as EQ
from tools.check_correctness import compare_frames


def connect(data_dir: str, tables: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def answer(data_dir: str, tables: list[str], sql: str) -> pd.DataFrame:
    """DuckDB's answer to ``sql`` over the inputs in ``data_dir``. Inputs
    never change once made, so the answer is kept beside them, keyed by
    the query text, and a later run on the same seed reuses it."""
    key = hashlib.sha1(sql.encode()).hexdigest()[:16]
    path = os.path.join(data_dir, f"answer-{key}.pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    con = connect(data_dir, tables)
    try:
        df = con.execute(sql).fetchdf()
    finally:
        con.close()
    tmp = f"{path}.{os.getpid()}.tmp"
    df.to_pickle(tmp)
    os.replace(tmp, path)
    return df


def frames_equal(result: pd.DataFrame, expected: pd.DataFrame) -> bool:
    """Exact, order-insensitive equality (rows, columns, dtypes, values)."""
    return bool(compare_frames(result, expected)["ok"])


# -- tile_pipeline -----------------------------------------------------------

# the geotag of functions/geo.py in DuckDB: identical IEEE double operations
POINTS_FROM_IMAGES_SQL = """
SELECT greatest(-90.0::DOUBLE, least(90.0::DOUBLE,
           (phash >> 31) / 4294967296.0::DOUBLE * 190.0::DOUBLE - 95.0::DOUBLE)) AS lat,
       (phash & 2147483647) / 2147483648.0::DOUBLE * 360.0::DOUBLE - 180.0::DOUBLE AS lon
FROM read_parquet('{images}/*.parquet')
"""


def tile_expected(data_dir: str) -> pd.DataFrame:
    """Images per customer box: the exact closed-box containment
    predicate, with a 1-degree grid only to pair candidates."""
    points = POINTS_FROM_IMAGES_SQL.format(images=f"{data_dir}/images.parquet")
    return answer(data_dir, ["customer"], f"""
        WITH p AS ({points}),
        pg AS (SELECT lat, lon, floor(lat)::BIGINT AS gy, floor(lon)::BIGINT AS gx FROM p),
        b AS ({EQ.BOXES_SQL}),
        b1 AS (SELECT *, unnest(range(floor(min_lat)::BIGINT, floor(max_lat)::BIGINT + 1)) AS gy
               FROM b),
        bg AS (SELECT *, unnest(range(floor(min_lon)::BIGINT, floor(max_lon)::BIGINT + 1)) AS gx
               FROM b1)
        SELECT box_id, count(*) AS n_images
        FROM pg JOIN bg USING (gy, gx)
        WHERE pg.lat >= bg.min_lat AND pg.lat <= bg.max_lat
          AND pg.lon >= bg.min_lon AND pg.lon <= bg.max_lon
        GROUP BY box_id
    """)


def tile_ok(result: pd.DataFrame, expected: pd.DataFrame) -> bool:
    return frames_equal(result[["box_id", "n_images"]], expected)


# -- registry gates ------------------------------------------------------------

def gate_expected(data_dir: str, gate: str) -> pd.DataFrame:
    return answer(data_dir, ["documents", "orders", "embeddings"], EQ.ORACLES[gate])


# -- replication_ingest --------------------------------------------------------

# the replicated tables in an engine-neutral form: timestamps as epoch
# microseconds, tag maps as sorted ``k=v`` strings

def spark_changesets(df):
    tags = F.array_join(F.array_sort(F.transform(
        F.map_entries("tags"), lambda e: F.concat(e["key"], F.lit("="), e["value"]))), ";")
    return df.select(
        "id", "user_id", F.unix_micros("created_at").alias("created_us"),
        F.unix_micros("closed_at").alias("closed_us"), "open", "num_changes", "user_name",
        "min_lat", "max_lat", "min_lon", "max_lon", tags.alias("tags"),
    )


def spark_comments(df):
    return df.select("comment_changeset_id", "comment_user_id", "comment_user_name",
                     F.unix_micros("comment_date").alias("comment_us"), "comment_text")


def replication_expected(base_dir: str, diffs: list[tuple[int, pa.Table, pa.Table]]
                         ) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Last-writer-wins resolution of the base table and every applied
    diff: a changeset takes its row from the last diff that carries it,
    and its comments are exactly that diff's comments for it."""
    con = connect(base_dir, ["changesets", "comments"])
    if diffs:
        con.register("diff_cs", pa.concat_tables(
            [cs.append_column("seq", pa.array([s] * cs.num_rows, pa.int64()))
             for s, cs, _ in diffs]))
        con.register("diff_cm", pa.concat_tables(
            [cm.append_column("seq", pa.array([s] * cm.num_rows, pa.int64()))
             for s, _, cm in diffs]))
        all_cs = "SELECT *, 0::BIGINT AS seq FROM changesets UNION ALL SELECT * FROM diff_cs"
        all_cm = "SELECT *, 0::BIGINT AS seq FROM comments UNION ALL SELECT * FROM diff_cm"
    else:
        all_cs = "SELECT *, 0::BIGINT AS seq FROM changesets"
        all_cm = "SELECT *, 0::BIGINT AS seq FROM comments"
    con.execute(f"CREATE TEMP VIEW all_cs AS {all_cs}")
    con.execute(f"CREATE TEMP VIEW all_cm AS {all_cm}")
    con.execute("CREATE TEMP VIEW owner AS SELECT id, max(seq) AS seq FROM all_cs GROUP BY id")
    changesets = con.execute("""
        SELECT c.id, c.user_id, epoch_us(c.created_at) AS created_us,
               epoch_us(c.closed_at) AS closed_us, c.open, c.num_changes, c.user_name,
               c.min_lat, c.max_lat, c.min_lon, c.max_lon,
               array_to_string(list_sort(list_transform(map_entries(c.tags),
                   e -> e.key || '=' || e.value)), ';') AS tags
        FROM all_cs c JOIN owner o ON c.id = o.id AND c.seq = o.seq
    """).fetchdf()
    comments = con.execute("""
        SELECT c.comment_changeset_id, c.comment_user_id, c.comment_user_name,
               epoch_us(c.comment_date) AS comment_us, c.comment_text
        FROM all_cm c JOIN owner o ON c.comment_changeset_id = o.id AND c.seq = o.seq
    """).fetchdf()
    return changesets, comments
