"""DuckDB-oracle SQL builders mirroring the engine pipelines.

Every string here is ANSI SQL over the driver's pre-registered views
(region nation customer supplier part orders lineitem events documents
embeddings) and must produce the same columns/values as the matching
pipeline in pipelines.py — the driver's correctness gate compares them
hash-for-hash at sf=0.01.
"""

from __future__ import annotations

from .geo.distance import distance_m_sql
from .norm.housenumbers import housenumber_sortable_sql
from .operators.match_eval import tag_priority_sql
from .sources.addresses import (
    job_flags_sql,
    official_sql,
    osm_sql,
    raw_housenumbers_sql,
)
from .sources.relations_src import relations_sql
from .sources.streets import HIGHWAY_WHITELIST, street_points_sql, street_segments_sql
from .sources.synthetic import areas_sql, points_sql


def _eval_ctes() -> str:
    return f"""
WITH offk AS (
  SELECT o.job_id, o.street, o.source_id,
         CASE WHEN f.exact THEN o.housenumber ELSE lower(o.housenumber) END AS hnr_key
  FROM {official_sql()} o JOIN {job_flags_sql()} f ON o.job_id = f.job_id
),
offd AS (
  SELECT job_id, street, hnr_key, source_id FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY job_id, street, hnr_key ORDER BY source_id) AS rn
    FROM offk) t WHERE rn = 1
),
osmk AS (
  SELECT o.job_id, o.street, o.osm_id,
         CASE WHEN f.exact THEN o.housenumber ELSE lower(o.housenumber) END AS hnr_key,
         {tag_priority_sql('o.building', 'o.entrance', 'o.amenity')} AS prio
  FROM {osm_sql()} o JOIN {job_flags_sql()} f ON o.job_id = f.job_id
),
osmb AS (
  SELECT job_id, street, hnr_key, osm_id, prio FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY job_id, street, hnr_key ORDER BY prio, osm_id) AS rn
    FROM osmk) t WHERE rn = 1
),
matched AS (
  SELECT COALESCE(a.job_id, b.job_id) AS job_id,
         COALESCE(a.street, b.street) AS street,
         COALESCE(a.hnr_key, b.hnr_key) AS hnr_key,
         CASE WHEN a.source_id IS NOT NULL AND b.osm_id IS NOT NULL THEN 'i'
              WHEN a.source_id IS NOT NULL THEN 'l' ELSE 'o' END AS treffertyp,
         a.source_id, b.osm_id, b.prio
  FROM offd a FULL OUTER JOIN osmb b
    ON a.job_id = b.job_id AND a.street = b.street AND a.hnr_key = b.hnr_key
)"""


def official_dedup_sql() -> str:
    return (
        _eval_ctes()
        + "\nSELECT job_id, street, hnr_key, source_id FROM offd"
    )


def best_osm_sql() -> str:
    return (
        _eval_ctes()
        + "\nSELECT job_id, street, hnr_key, osm_id, prio FROM osmb"
    )


def matched_sql() -> str:
    return (
        _eval_ctes()
        + "\nSELECT job_id, street, hnr_key, treffertyp, source_id, osm_id, prio"
        " FROM matched"
    )


def counters_sql() -> str:
    return (
        _eval_ctes()
        + """
SELECT job_id,
       CAST(SUM(CASE WHEN treffertyp IN ('i','l') THEN 1 ELSE 0 END) AS BIGINT) AS number_target,
       CAST(SUM(CASE WHEN treffertyp = 'i' THEN 1 ELSE 0 END) AS BIGINT) AS number_identical,
       CAST(SUM(CASE WHEN treffertyp = 'o' THEN 1 ELSE 0 END) AS BIGINT) AS number_osmonly
FROM matched GROUP BY job_id"""
    )


def street_catalog_sql() -> str:
    wl = ", ".join(f"'{h}'" for h in HIGHWAY_WHITELIST)
    return f"""
WITH segs AS (
  SELECT * FROM {street_segments_sql()} t
  WHERE highway IN ({wl}) AND osm_id % 97 <> 0
),
areas AS (SELECT * FROM {areas_sql()} a WHERE admin_level = 8),
asg AS (
  SELECT s.osm_id, s.name, a.area_id FROM segs s JOIN areas a
    ON s.y0 >= a.ymin AND s.y0 <= a.ymax AND s.x1 >= a.xmin AND s.x0 <= a.xmax
),
cat AS (
  SELECT area_id, name, COUNT(*) AS n_segments,
         string_agg(CAST(osm_id AS VARCHAR), ',' ORDER BY osm_id) AS osm_ids
  FROM asg GROUP BY area_id, name
),
official AS (
  SELECT DISTINCT job_id + 100 AS area_id, street AS name FROM {official_sql()} o
)
SELECT area_id, name, n_segments, osm_ids, 'osm' AS source FROM cat
UNION ALL
SELECT o.area_id, o.name, CAST(0 AS BIGINT) AS n_segments, '' AS osm_ids,
       'official_only' AS source
FROM official o
WHERE NOT EXISTS (
  SELECT 1 FROM cat c WHERE c.area_id = o.area_id AND c.name = o.name)"""


def hnr_explode_sql() -> str:
    a = "trim(split_part(part, '-', 1))"
    b = "trim(split_part(part, '-', 2))"
    # TRY_CAST throughout: DuckDB's vectorized AND evaluates both operands,
    # so a plain CAST on a non-numeric bound ('7x') raises even when the
    # regexp guard is false for that row.
    valid = (
        f"length(part) - length(replace(part, '-', '')) = 1 "
        f"AND regexp_matches({a}, '^[0-9]+$') AND regexp_matches({b}, '^[0-9]+$') "
        f"AND TRY_CAST({b} AS INT) > TRY_CAST({a} AS INT) "
        # span cap in lockstep with norm.housenumbers.RANGE_EXPAND_CAP
        f"AND TRY_CAST({b} AS INT) - TRY_CAST({a} AS INT) <= 20000"
    )
    expand = (
        f"CASE WHEN NOT contains(part, '-') THEN [part] "
        f"WHEN {valid} THEN list_transform("
        f"generate_series(TRY_CAST({a} AS INT), TRY_CAST({b} AS INT), 2), "
        f"x -> CAST(x AS VARCHAR)) "
        f"ELSE CAST([] AS VARCHAR[]) END"
    )
    return f"""
WITH raw AS (SELECT * FROM {raw_housenumbers_sql()} r),
parts AS (
  SELECT rec_id, trim(p) AS part FROM (
    SELECT rec_id,
           unnest(regexp_split_to_array(replace(housenumber, ',', ';'), ';')) AS p
    FROM raw) t),
expanded AS (
  SELECT rec_id, unnest({expand}) AS housenumber FROM parts)
SELECT rec_id, housenumber,
       {housenumber_sortable_sql('housenumber')} AS hnr_sortable
FROM expanded"""


def associated_street_sql() -> str:
    return f"""
WITH mem AS (
  SELECT rel_id, name, unnest(members) AS member_id FROM {relations_sql()} r),
best AS (
  SELECT member_id, rel_id, name FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY member_id ORDER BY rel_id) AS rn
    FROM mem) t WHERE rn = 1)
SELECT o.osm_id, o.street, b.name AS assoc_street,
       COALESCE(b.name, o.street) AS effective_street, b.rel_id
FROM {osm_sql()} o LEFT JOIN best b ON b.member_id = o.osm_id"""


def _merge_ctes() -> str:
    return f"""
WITH base AS (
  SELECT source_id, street, housenumber FROM {official_sql()} o),
updates AS (
  SELECT source_id, street,
         CASE WHEN source_id % 10 = 0 THEN housenumber || 'x'
              ELSE housenumber END AS housenumber
  FROM base WHERE source_id % 13 <> 0
  UNION ALL
  SELECT -(source_id + 1) AS source_id, street, housenumber || 'n'
  FROM base WHERE source_id % 17 = 0),
diff AS (
  -- null-safe key join + presence flags, mirroring merge_actions (a NULL
  -- key must match a NULL key, and presence cannot be inferred from the
  -- key column once keys may be NULL)
  SELECT COALESCE(b.source_id, u.source_id) AS source_id,
         CASE WHEN u.p THEN u.street ELSE b.street END AS street,
         CASE WHEN u.p THEN u.housenumber
              ELSE b.housenumber END AS housenumber,
         CASE WHEN b.p IS NULL THEN 'insert'
              WHEN u.p IS NULL THEN 'delete'
              WHEN b.street IS DISTINCT FROM u.street
                OR b.housenumber IS DISTINCT FROM u.housenumber THEN 'update'
              ELSE 'unchanged' END AS action
  FROM (SELECT *, TRUE AS p FROM base) b
  FULL OUTER JOIN (SELECT *, TRUE AS p FROM updates) u
    ON b.source_id IS NOT DISTINCT FROM u.source_id)"""


def merge_diff_sql() -> str:
    return _merge_ctes() + "\nSELECT source_id, street, housenumber, action FROM diff"


def merge_counters_sql() -> str:
    return (
        _merge_ctes()
        + "\nSELECT action, COUNT(*) AS n_rows FROM diff GROUP BY action"
    )


def merge_upsert_snapshot_sql() -> str:
    """Expected snapshot table after the Workcache merge
    (snapshots.merge_upsert_snapshot_table) commits the diff: every
    update/insert row, plus base rows neither updated (source_id % 13 = 0
    set is absent from updates) nor deleted (% 26)."""
    return _merge_ctes() + """
SELECT source_id, street, housenumber FROM updates
UNION ALL
SELECT source_id, street, housenumber FROM base
WHERE source_id % 13 = 0 AND source_id % 26 <> 0"""


def boundary_select_sql() -> str:
    ags_raw = (
        "CAST(n_nationkey % 16 AS VARCHAR) || ' ' || "
        "CAST(n_nationkey % 10 AS VARCHAR) || ' 52'"
    )
    stripped = f"replace({ags_raw}, ' ', '')"
    ags_norm = (
        f"CASE WHEN length({stripped}) >= 8 THEN {stripped} "
        f"ELSE rpad({stripped}, 8, '0') END"
    )
    return f"""
WITH cand AS (
  SELECT CAST(n_nationkey AS BIGINT) AS query_id,
         {ags_norm} AS ags_norm,
         CAST(n_nationkey AS BIGINT) * 10 + i AS rel_id,
         CAST(8 - (i % 4) * 2 AS INT) AS matched_key_len,
         (i % 2 = 0) AS name_match,
         CAST(4 + i AS INT) AS admin_level
  FROM nation CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS i) g)
SELECT query_id, ags_norm, rel_id, matched_key_len, name_match, admin_level
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id
    ORDER BY matched_key_len DESC, name_match DESC, admin_level ASC,
             rel_id ASC) AS rn
  FROM cand) t
WHERE rn = 1"""


def josm_export_sql() -> str:
    esc = (
        "replace(replace(replace(replace(replace({v}, '&', '&amp;'), "
        "'<', '&lt;'), '>', '&gt;'), '\"', '&quot;'), '''', '&apos;')"
    )
    street = esc.format(v="(street || ' <&''\">')")
    hnr = esc.format(v="housenumber")
    pc = esc.format(v="('52' || lpad(CAST(source_id % 100 AS VARCHAR), 3, '0'))")
    return f"""
SELECT source_id,
  '<node id=''-' || CAST(source_id AS VARCHAR) || ''' visible=''true'' lat=''' ||
  printf('%.7f', 50.0 + (source_id % 777) / 1000.0) || ''' lon=''' ||
  printf('%.7f', 6.0 + (source_id % 1000) / 1000.0) || '''>' ||
  '<tag k=''addr:street'' v=''' || {street} || '''/>' ||
  '<tag k=''addr:housenumber'' v=''' || {hnr} || '''/>' ||
  '<tag k=''addr:postcode'' v=''' || {pc} || '''/>' ||
  '</node>' AS xml
FROM {official_sql()} o"""


def census_counters_sql() -> str:
    from .geo.cells import cell_sql
    from .pipelines import TILE_RES_CENSUS  # single source of truth

    tile = cell_sql("p.lon", "p.lat", TILE_RES_CENSUS)
    return f"""
SELECT a.area_id, COUNT(*) AS n_points,
       CAST(SUM(CASE WHEN p.hot THEN 1 ELSE 0 END) AS BIGINT) AS n_hot,
       COUNT(DISTINCT {tile}) AS n_tiles
FROM {points_sql()} p JOIN {areas_sql()} a
  ON p.lon >= a.xmin AND p.lon <= a.xmax AND p.lat >= a.ymin AND p.lat <= a.ymax
GROUP BY a.area_id"""


def stream_windowed_counts_sql() -> str:
    return """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events GROUP BY 1, 2"""


def stream_sessions_sql(gap_minutes: int = 30) -> str:
    return f"""
WITH m AS (
  SELECT user_id, ts,
    CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
           OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
              >= INTERVAL {gap_minutes} MINUTE
         THEN 1 ELSE 0 END AS new_sess
  FROM events),
g AS (
  SELECT user_id, ts,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM m)
SELECT MIN(ts) AS session_start,
       MAX(ts) + INTERVAL {gap_minutes} MINUTE AS session_end,
       user_id, COUNT(*) AS n_events
FROM g GROUP BY user_id, sess_id"""


def suburb_assignment_sql() -> str:
    from .pipelines import SUBURB_BUFFER_DEG  # single source of truth

    b = SUBURB_BUFFER_DEG
    return f"""
WITH a AS (SELECT * FROM {areas_sql()} t)
SELECT s.area_id AS suburb_id, s.name AS suburb_name,
       d.area_id AS district_id, d.name AS district_name
FROM a s JOIN a d
  ON s.admin_level = 8 AND d.admin_level = 6
 AND s.xmin >= d.xmin - {b!r} AND s.xmax <= d.xmax + {b!r}
 AND s.ymin >= d.ymin - {b!r} AND s.ymax <= d.ymax + {b!r}"""


def boundary_union_centroid_sql() -> str:
    return f"""
SELECT CAST(area_id AS BIGINT) AS rel_id, CAST(4 AS BIGINT) AS n_parts,
       ROUND((xmax - xmin) * (ymax - ymin), 6) AS area_deg2,
       ROUND((xmin + xmax) / 2, 6) AS centroid_lon,
       ROUND((ymin + ymax) / 2, 6) AS centroid_lat
FROM {areas_sql()} a WHERE admin_level = 8"""


def crs_transform_sql() -> str:
    r = 6378137.0
    k = "o_orderkey"
    wm = f"({k} % 4) <> 0"
    x = f"CASE WHEN {wm} THEN ({k} % 4001 - 2000) * 1000.0 ELSE ({k} % 360) - 180 + 0.25 END"
    y = f"CASE WHEN {wm} THEN ({k} % 2001) * 1000.0 + 5500000.0 ELSE ({k} % 170) - 85 + 0.25 END"
    return f"""
WITH raw AS (
  SELECT {k} AS rec_id, {x} AS x, {y} AS y,
         CAST(CASE WHEN {wm} THEN 3857 ELSE 4326 END AS INT) AS srid
  FROM orders)
SELECT rec_id, srid,
  ROUND(CASE WHEN srid = 3857 THEN degrees(x / {r!r}) ELSE x END, 7) AS lon,
  ROUND(CASE WHEN srid = 3857
             THEN degrees(2 * atan(exp(y / {r!r})) - pi() / 2)
             ELSE y END, 7) AS lat
FROM raw"""


def import_rejects_sql() -> str:
    return f"""
WITH damaged AS (
  SELECT source_id,
         CASE WHEN source_id % 23 = 0 THEN NULL ELSE street END AS street,
         CASE WHEN source_id % 29 = 0 THEN '' ELSE housenumber END AS housenumber
  FROM {official_sql()} o)
SELECT source_id,
       CASE WHEN street IS NULL OR trim(street) = '' THEN 'missing_street'
            ELSE 'missing_housenumber' END AS reason
FROM damaged
WHERE street IS NULL OR trim(street) = ''
   OR housenumber IS NULL OR trim(housenumber) = ''"""


def resume_pending_sql(startdate: int = 4) -> str:
    from .sources.addresses import N_JOBS

    return f"""
WITH jobs AS (SELECT CAST(range AS BIGINT) AS job_id FROM range({N_JOBS})),
results AS (
  SELECT job_id, job_id % 7 AS result_day FROM jobs WHERE job_id % 3 <> 1)
SELECT job_id FROM jobs j
WHERE NOT EXISTS (
  SELECT 1 FROM results r
  WHERE r.job_id = j.job_id AND r.result_day >= {startdate})"""


def sorted_street_list_sql() -> str:
    from .norm.names import correctorder_sql

    base = (
        "CASE p_partkey % 8 WHEN 0 THEN 'Ährenweg' WHEN 1 THEN 'Übergasse' "
        "WHEN 2 THEN 'Öhrstraße' WHEN 3 THEN 'Bachgasse' WHEN 4 THEN 'Zum Loch' "
        "WHEN 5 THEN 'Ängerweg' WHEN 6 THEN 'Straßburger Allee' "
        "ELSE 'Am Hang' END"
    )
    return f"""
WITH streets AS (
  SELECT DISTINCT {base} || ' ' || CAST(p_partkey % 50 AS VARCHAR) AS street
  FROM part),
keyed AS (
  SELECT street, {correctorder_sql('street')} AS sort_key FROM streets)
SELECT street, sort_key,
       CAST(ROW_NUMBER() OVER (ORDER BY sort_key) AS INT) AS street_rank
FROM keyed"""


def knn_nearest_street_sql(k: int = 1) -> str:
    dist = distance_m_sql("p.lon", "p.lat", "t.slon", "t.slat")
    return f"""
SELECT point_id, street_key, name, knn_rank FROM (
  SELECT p.point_id, t.street_key, t.name,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY p.point_id ORDER BY {dist}, t.street_key) AS INT) AS knn_rank
  FROM {points_sql()} p CROSS JOIN {street_points_sql()} t
) r WHERE knn_rank <= {k}"""
