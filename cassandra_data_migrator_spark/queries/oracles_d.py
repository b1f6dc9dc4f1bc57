"""DuckDB oracle SQL chunk (oracles_d).

The sql_frontend_ds* oracles are the IDENTICAL SQL text the Spark side
submits (one text, two engines), imported from sql_frontend.
"""

from __future__ import annotations

from cassandra_data_migrator_spark.queries.multimodal_keys import (  # noqa: F401
    JPEG_BW,
    JPEG_MAX_BH,
)
from cassandra_data_migrator_spark.queries.sql_frontend import (  # noqa: F401
    SQL_DS1_SQL,
    SQL_DS6_SQL,
    SQL_DS7_SQL,
    SQL_DS8_SQL,
    SQL_DS9_SQL,
    SQL_DS10_SQL,
    SQL_DS11_SQL,
    SQL_DS12_SQL,
    SQL_DS13_SQL,
    SQL_DS14_SQL,
    SQL_DS15_SQL,
    SQL_DS2_SQL,
    SQL_DS3_SQL,
    SQL_DS4_SQL,
    SQL_DS5_SQL,
)


# identical to the multimodal_jpeg oracle: the scan layout (restart
# markers, progressive multi-scan) changes the WIRE format, never the
# pixels — the oracle re-slices the ORIGINAL text bytes and never sees a
# JPEG. Shared by multimodal_jpeg_rst (here) and
# multimodal_jpeg_progressive (oracles_e).
JPEG_GRAY_ORACLE_SQL = f"""
            WITH san AS (SELECT doc_id,
                                regexp_replace(text, '[^ -~]', '', 'g') AS s
                         FROM documents),
            dim AS (SELECT doc_id, s,
                           LEAST({JPEG_MAX_BH},
                                 CAST(LENGTH(s) // {JPEG_BW} AS INT)) AS bh
                    FROM san),
            ok AS (SELECT doc_id, s, bh FROM dim WHERE bh >= 1),
            b AS (SELECT doc_id, bh,
                         ord(substr(s, CAST(i AS INT), 1)) AS val
                  FROM (SELECT doc_id, bh, s,
                               unnest(range(1, bh * {JPEG_BW} + 1)) AS i
                        FROM ok))
            SELECT doc_id AS media_id,
                   CAST({JPEG_BW} * 8 AS INT) AS width,
                   CAST(bh * 8 AS INT) AS height,
                   CAST({JPEG_BW} * 8 * bh * 8 AS BIGINT) AS n_pix,
                   CAST(64 * SUM(val) AS BIGINT) AS px_sum,
                   CAST(MIN(val) AS INT) AS px_min,
                   CAST(MAX(val) AS INT) AS px_max,
                   ROUND(64.0 * SUM(val) / ({JPEG_BW} * 8 * bh * 8), 4)
                       AS px_mean
            FROM b GROUP BY doc_id, bh
        """


def oracles_d() -> dict[str, str]:
    return {
        "multimodal_jpeg_rst": JPEG_GRAY_ORACLE_SQL,
        "sql_frontend_ds1": SQL_DS1_SQL,
        "sql_frontend_ds2": SQL_DS2_SQL,
        "sql_frontend_ds3": SQL_DS3_SQL,
        "sql_frontend_ds4": SQL_DS4_SQL,
        "sql_frontend_ds5": SQL_DS5_SQL,
        "sql_frontend_ds6": SQL_DS6_SQL,
        "sql_frontend_ds7": SQL_DS7_SQL,
        "sql_frontend_ds8": SQL_DS8_SQL,
        "sql_frontend_ds9": SQL_DS9_SQL,
        "sql_frontend_ds10": SQL_DS10_SQL,
        "sql_frontend_ds11": SQL_DS11_SQL,
        "sql_frontend_ds12": SQL_DS12_SQL,
        "sql_frontend_ds13": SQL_DS13_SQL,
        "sql_frontend_ds14": SQL_DS14_SQL,
        "sql_frontend_ds15": SQL_DS15_SQL,
    }
