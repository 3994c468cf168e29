"""The analyst query mix and its DuckDB oracle.

Each query is one SQL text per engine over the same table names: the
Spark side reads the views ``plans.catalog.register_tables`` creates,
the DuckDB side reads the same Parquet files through
``read_parquet(..., hive_partitioning=1)`` views defined here.  Only
the array UNNEST spelling differs between the engines.

Results are compared as a canonical hash of the canonical form
``tests/oracle.py`` gives them: columns sorted by name, values
normalized (Decimal to float, floats rounded to 9 places, dates to ISO
strings), rows sorted.
"""

from __future__ import annotations

import hashlib

from tests.oracle import _canon

# (name, spark sql, duckdb sql or None when identical); {day} is the
# ISO date of the single partition the pruning query reads.
QUERIES = [
    (
        "er_join_per_date",
        """
        SELECT CAST(k.dt AS STRING) AS dt,
               count(DISTINCT k.game_id) AS n_games,
               count(DISTINCT k.id) AS n_kyokus,
               count(*) AS n_haipai_rows
        FROM kyokus k
        JOIN games g ON k.game_id = g.id
        JOIN haipais h ON h.kyoku_id = k.id
        GROUP BY 1
        """,
        None,
    ),
    (
        "yaku_stats",
        """
        SELECT y.name AS yaku_name, count(*) AS n, sum(y.han) AS total_han
        FROM (SELECT explode(yaku) AS y FROM agaris)
        GROUP BY 1
        """,
        """
        SELECT y.name AS yaku_name, count(*) AS n, sum(y.han) AS total_han
        FROM (SELECT unnest(yaku) AS y FROM agaris)
        GROUP BY 1
        """,
    ),
    (
        "action_sequences",
        """
        SELECT kyoku_id, player_index,
               count(*) AS n_actions,
               sum(CASE WHEN type LIKE 'tsumo%' THEN 1 ELSE 0 END) AS n_draws,
               sum(CASE WHEN type = 'sutehai' THEN 1 ELSE 0 END) AS n_discards,
               max(seq) AS last_seq
        FROM actions
        GROUP BY kyoku_id, player_index
        """,
        None,
    ),
    (
        "riichi_outcomes",
        """
        WITH r AS (
            SELECT DISTINCT kyoku_id, player_index FROM actions
            WHERE type = 'sutehai' AND pais LIKE '%*'
        )
        SELECT count(*) AS n_riichi,
               sum(CASE WHEN a.kyoku_id IS NOT NULL THEN 1 ELSE 0 END) AS n_won,
               coalesce(sum(a.score), 0) AS won_score_total
        FROM r LEFT JOIN agaris a
          ON a.kyoku_id = r.kyoku_id AND a.who = r.player_index
        """,
        None,
    ),
    (
        "placement_stats",
        """
        WITH ranked AS (
            SELECT game_id, player_index, score, point,
                   row_number() OVER (PARTITION BY game_id
                                      ORDER BY score DESC, player_index) AS rnk
            FROM game_scores
        )
        SELECT player_index,
               count(*) AS n_games,
               sum(CASE WHEN rnk = 1 THEN 1 ELSE 0 END) AS n_first,
               sum(score) AS total_score,
               CAST(sum(CAST(round(point * 10) AS BIGINT)) AS DOUBLE) / 10.0 AS total_point
        FROM ranked GROUP BY player_index
        """,
        None,
    ),
    (
        "dealer_advantage",
        """
        SELECT sum(CASE WHEN a.who = k.kyoku_num % 4 THEN 1 ELSE 0 END) AS n_dealer_wins,
               sum(CASE WHEN a.who <> k.kyoku_num % 4 THEN 1 ELSE 0 END) AS n_other_wins,
               sum(CASE WHEN a.who = a.by THEN 1 ELSE 0 END) AS n_tsumo,
               max(CASE WHEN a.who = k.kyoku_num % 4 THEN a.score ELSE 0 END) AS max_dealer_score,
               max(CASE WHEN a.who <> k.kyoku_num % 4 THEN a.score ELSE 0 END) AS max_other_score
        FROM agaris a JOIN kyokus k ON a.kyoku_id = k.id
        """,
        None,
    ),
    (
        "one_day_actions",
        """
        SELECT player_index,
               count(*) AS n_actions,
               count(DISTINCT kyoku_id) AS n_kyokus,
               sum(CASE WHEN type = 'sutehai' THEN 1 ELSE 0 END) AS n_discards
        FROM actions
        WHERE dt = DATE '{day}'
        GROUP BY player_index
        """,
        None,
    ),
    (
        "games_wide_rules",
        """
        SELECT CAST(dt AS STRING) AS dt, has_aka, tonpu,
               count(*) AS n_games,
               sum(CASE WHEN ariari THEN 1 ELSE 0 END) AS n_ariari,
               max(level) AS max_level
        FROM games_wide
        GROUP BY 1, 2, 3
        """,
        None,
    ),
]

NAMES = [q[0] for q in QUERIES]

_DUCK_TABLES = ["games", "rules", "game_scores", "kyokus", "haipais", "agaris", "actions"]

# the wide-games view, written here from the base tables' columns
_DUCK_GAMES_WIDE = """
CREATE VIEW games_wide AS
SELECT g.id, g.started_at, g.dt,
       r.is_demo, r.is_soku, r.is_sanma, r.level,
       r.aka_type <> 0 AS has_aka,
       r.nannyu_score = 0 AS tonpu,
       r.enable_kuitan AS ariari
FROM games g JOIN rules r ON g.id = r.game_id AND g.dt = r.dt
"""


_SPARK_SQL = {name: sql for name, sql, _ in QUERIES}


def spark_sql(name: str, day: str) -> str:
    return _SPARK_SQL[name].format(day=day)


def oracle_hashes(root: str, day: str) -> dict[str, str]:
    """Canonical result hash of every query, computed by DuckDB."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in _DUCK_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                f"'{root}/{t}/*/*.parquet', hive_partitioning = 1)"
            )
        con.execute(_DUCK_GAMES_WIDE)
        out = {}
        for name, spark_text, duck_text in QUERIES:
            cur = con.execute((duck_text or spark_text).format(day=day))
            out[name] = canonical_hash([d[0] for d in cur.description], cur.fetchall())
        return out
    finally:
        con.close()


def canonical_hash(cols: list[str], rows) -> str:
    """sha256 of the result as ``tests/oracle.py`` canonicalizes it."""
    names, canon = _canon(list(cols), [tuple(r) for r in rows])
    return hashlib.sha256(repr((names, canon)).encode()).hexdigest()
