-- DuckDB twin of the dedup_clusters query: the text of oracle_sql()["dedup_clusters"]
-- in __spark_entry__.py when this benchmark was added, kept here because the
-- benchmark never imports that module. Reads one table, `documents`.
WITH pr AS MATERIALIZED (
WITH sh AS (
  SELECT * FROM (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(ts) >= 3
         THEN list_transform(generate_series(1, len(ts) - 2),
              i -> ts[i] || '_' || ts[i+1] || '_' || ts[i+2])
         ELSE [list_aggregate(ts, 'string_agg', '_')] END)) AS shingle
  FROM (SELECT doc_id, CASE WHEN trim(lower(text)) = '' THEN []::VARCHAR[] ELSE string_split_regex(trim(lower(text)), '\s+') END AS ts FROM documents) _t
) s WHERE shingle <> ''
), sig AS (
  SELECT doc_id, min(xor(h0, 212894596368401712)) AS m0, min(xor(h0, 895108093730787245)) AS m1, min(xor(h0, 869575506368971425)) AS m2, min(xor(h0, 494432464890498370)) AS m3, min(xor(h0, 823733069389959678)) AS m4, min(xor(h0, 714490681438373636)) AS m5, min(xor(h0, 870660160850484155)) AS m6, min(xor(h0, 625036256509569594)) AS m7, min(xor(h0, 112005695606169880)) AS m8, min(xor(h0, 65385801389515055)) AS m9, min(xor(h0, 538226150746748980)) AS m10, min(xor(h0, 1125397148263292895)) AS m11, min(xor(h0, 1052107566535170209)) AS m12, min(xor(h0, 344744267297009657)) AS m13, min(xor(h0, 821053705388891713)) AS m14, min(xor(h0, 1139719288531906087)) AS m15
  FROM (SELECT doc_id, CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) AS h0 FROM sh) _h
  GROUP BY doc_id
), bands0 AS (SELECT doc_id, 0 AS band, md5(CAST(m0 AS VARCHAR) || ',' || CAST(m1 AS VARCHAR)) AS bkey FROM sig UNION ALL SELECT doc_id, 1 AS band, md5(CAST(m2 AS VARCHAR) || ',' || CAST(m3 AS VARCHAR)) AS bkey FROM sig UNION ALL SELECT doc_id, 2 AS band, md5(CAST(m4 AS VARCHAR) || ',' || CAST(m5 AS VARCHAR)) AS bkey FROM sig UNION ALL SELECT doc_id, 3 AS band, md5(CAST(m6 AS VARCHAR) || ',' || CAST(m7 AS VARCHAR)) AS bkey FROM sig UNION ALL SELECT doc_id, 4 AS band, md5(CAST(m8 AS VARCHAR) || ',' || CAST(m9 AS VARCHAR)) AS bkey FROM sig UNION ALL SELECT doc_id, 5 AS band, md5(CAST(m10 AS VARCHAR) || ',' || CAST(m11 AS VARCHAR)) AS bkey FROM sig UNION ALL SELECT doc_id, 6 AS band, md5(CAST(m12 AS VARCHAR) || ',' || CAST(m13 AS VARCHAR)) AS bkey FROM sig UNION ALL SELECT doc_id, 7 AS band, md5(CAST(m14 AS VARCHAR) || ',' || CAST(m15 AS VARCHAR)) AS bkey FROM sig),
bands AS (
  SELECT doc_id, band, bkey FROM (
    SELECT *, count(*) OVER (PARTITION BY band, bkey) AS bsz FROM bands0
  ) _c WHERE bsz <= 64
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
),
edges AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM pr
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pr
),
l0 AS MATERIALIZED (SELECT doc_id AS node, doc_id AS label FROM documents),
l1 AS MATERIALIZED (
  SELECT l.node, least(l.label, coalesce(min(r.label), l.label)) AS label
  FROM l0 l
  LEFT JOIN edges e ON e.src = l.node
  LEFT JOIN l0 r ON r.node = e.dst
  GROUP BY l.node, l.label
),
l2 AS MATERIALIZED (
  SELECT l.node, least(l.label, coalesce(min(r.label), l.label)) AS label
  FROM l1 l
  LEFT JOIN edges e ON e.src = l.node
  LEFT JOIN l1 r ON r.node = e.dst
  GROUP BY l.node, l.label
),
l3 AS MATERIALIZED (
  SELECT l.node, least(l.label, coalesce(min(r.label), l.label)) AS label
  FROM l2 l
  LEFT JOIN edges e ON e.src = l.node
  LEFT JOIN l2 r ON r.node = e.dst
  GROUP BY l.node, l.label
),
l4 AS MATERIALIZED (
  SELECT l.node, least(l.label, coalesce(min(r.label), l.label)) AS label
  FROM l3 l
  LEFT JOIN edges e ON e.src = l.node
  LEFT JOIN l3 r ON r.node = e.dst
  GROUP BY l.node, l.label
),
l5 AS MATERIALIZED (
  SELECT l.node, least(l.label, coalesce(min(r.label), l.label)) AS label
  FROM l4 l
  LEFT JOIN edges e ON e.src = l.node
  LEFT JOIN l4 r ON r.node = e.dst
  GROUP BY l.node, l.label
),
l6 AS MATERIALIZED (
  SELECT l.node, least(l.label, coalesce(min(r.label), l.label)) AS label
  FROM l5 l
  LEFT JOIN edges e ON e.src = l.node
  LEFT JOIN l5 r ON r.node = e.dst
  GROUP BY l.node, l.label
),
l7 AS MATERIALIZED (
  SELECT l.node, least(l.label, coalesce(min(r.label), l.label)) AS label
  FROM l6 l
  LEFT JOIN edges e ON e.src = l.node
  LEFT JOIN l6 r ON r.node = e.dst
  GROUP BY l.node, l.label
),
l8 AS MATERIALIZED (
  SELECT l.node, least(l.label, coalesce(min(r.label), l.label)) AS label
  FROM l7 l
  LEFT JOIN edges e ON e.src = l.node
  LEFT JOIN l7 r ON r.node = e.dst
  GROUP BY l.node, l.label
),
l9 AS MATERIALIZED (
  SELECT l.node, least(l.label, coalesce(min(r.label), l.label)) AS label
  FROM l8 l
  LEFT JOIN edges e ON e.src = l.node
  LEFT JOIN l8 r ON r.node = e.dst
  GROUP BY l.node, l.label
),
l10 AS MATERIALIZED (
  SELECT l.node, least(l.label, coalesce(min(r.label), l.label)) AS label
  FROM l9 l
  LEFT JOIN edges e ON e.src = l.node
  LEFT JOIN l9 r ON r.node = e.dst
  GROUP BY l.node, l.label
),
l11 AS MATERIALIZED (
  SELECT l.node, least(l.label, coalesce(min(r.label), l.label)) AS label
  FROM l10 l
  LEFT JOIN edges e ON e.src = l.node
  LEFT JOIN l10 r ON r.node = e.dst
  GROUP BY l.node, l.label
),
l12 AS MATERIALIZED (
  SELECT l.node, least(l.label, coalesce(min(r.label), l.label)) AS label
  FROM l11 l
  LEFT JOIN edges e ON e.src = l.node
  LEFT JOIN l11 r ON r.node = e.dst
  GROUP BY l.node, l.label
),
chk AS MATERIALIZED (
  -- self-validation: if the last two unrolled iterations still differ, the
  -- component diameter exceeded the unroll depth and the ORACLE (not the
  -- engine) is wrong -> fail loudly instead of reporting a false mismatch
  SELECT CASE WHEN EXISTS (
           SELECT 1 FROM l12 a JOIN l11 b ON b.node = a.node
           WHERE a.label <> b.label)
         THEN error('dedup_clusters oracle: 12 unrolled iterations did not converge - raise iters')
         ELSE 1 END AS ok
)
SELECT node AS doc_id, label AS cluster_id, node = label AS is_keeper
FROM l12, chk
