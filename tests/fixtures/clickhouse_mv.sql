-- Seven SummingMergeTree rollups of the log2 fact table, each fed by a
-- materialized view, written for this repo's ClickHouse-dialect tests
-- from SURVEY.md §2.4-2.6 (aggregates A1-A7, filters F1-F4, functions
-- O1-O7). A view emits one delta row per inserted log2 row; its target
-- sums every non-key column per ORDER BY key at merge time.

-- A1: blocked queries per domain (F1)
CREATE TABLE AdGuardHome.blocked_domains
(
    `QH` String,
    `count` UInt64
)
ENGINE = SummingMergeTree ORDER BY (QH);

CREATE MATERIALIZED VIEW AdGuardHome.blocked_domains_mv TO AdGuardHome.blocked_domains
AS SELECT QH, 1 AS count
FROM AdGuardHome.log2
WHERE IsFiltered = true;

-- A2: allowed queries per domain (F2)
CREATE TABLE AdGuardHome.visited_domains
(
    `QH` String,
    `count` UInt64
)
ENGINE = SummingMergeTree ORDER BY (QH);

CREATE MATERIALIZED VIEW AdGuardHome.visited_domains_mv TO AdGuardHome.visited_domains
AS SELECT QH, 1 AS count
FROM AdGuardHome.log2
WHERE IsFiltered = false;

-- A3: visited and blocked counters per client (F4 measures)
CREATE TABLE AdGuardHome.clients_stats
(
    `IP` String,
    `visited` UInt64,
    `blocked` UInt64
)
ENGINE = SummingMergeTree ORDER BY (IP);

CREATE MATERIALIZED VIEW AdGuardHome.client_stats_mv TO AdGuardHome.clients_stats
AS SELECT IP,
    if(IsFiltered, 0, 1) AS visited,
    if(IsFiltered, 1, 0) AS blocked
FROM AdGuardHome.log2;

-- A4: queries per query type
CREATE TABLE AdGuardHome.qt_stats
(
    `QT` String,
    `count` UInt64
)
ENGINE = SummingMergeTree ORDER BY (QT);

CREATE MATERIALIZED VIEW AdGuardHome.qt_stats_mv TO AdGuardHome.qt_stats
AS SELECT QT, 1 AS count
FROM AdGuardHome.log2;

-- A5: queries per response code
CREATE TABLE AdGuardHome.rcode_stats
(
    `rcode` UInt8,
    `count` UInt64
)
ENGINE = SummingMergeTree ORDER BY (rcode);

CREATE MATERIALIZED VIEW AdGuardHome.rcode_stats_mv TO AdGuardHome.rcode_stats
AS SELECT rcode, 1 AS count
FROM AdGuardHome.log2;

-- A6: per-client blocked/visited in 10-minute buckets (O6); the view's
-- own ORDER BY does not change what the target sums
CREATE TABLE AdGuardHome.stats2
(
    `IP` String,
    `date_time` DateTime,
    `blocked` UInt64,
    `visited` UInt64
)
ENGINE = SummingMergeTree ORDER BY (IP, date_time);

CREATE MATERIALIZED VIEW AdGuardHome.stats2_mv TO AdGuardHome.stats2
AS SELECT IP,
    toStartOfInterval(date_time, toIntervalMinute(10)) AS date_time,
    if(IsFiltered, 1, 0) AS blocked,
    if(IsFiltered, 0, 1) AS visited
FROM AdGuardHome.log2
ORDER BY IP, date_time;

-- A7: queries per top-level domain: the last dot-segment, taken as
-- element [1] (1-based) of the segments rotated right by one (O1-O3),
-- over real domains only (F3: a dot and no IP literal, O4 and O7)
CREATE TABLE AdGuardHome.tld_stats
(
    `tld` String,
    `count` UInt64
)
ENGINE = SummingMergeTree ORDER BY (tld);

CREATE MATERIALIZED VIEW AdGuardHome.tld_stats_mv TO AdGuardHome.tld_stats
AS SELECT arrayRotateRight(splitByChar('.', QH), 1)[1] AS tld, 1 AS count
FROM AdGuardHome.log2
WHERE length(splitByChar('.', QH)) > 1
    AND NOT isIPv4String(QH)
    AND NOT isIPv6String(QH);
