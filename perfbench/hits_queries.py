"""The reference's 43 published benchmark queries over `hits`
(ClickHouse dialect, as graft runs them) with an equivalent DuckDB query
for each and the rule its output is checked by.

Check kinds (`check` below; column positions are 0-based):
- rows:  the result equals DuckDB's as a multiset of rows; `ordered`
         also requires DuckDB's order.
- topk:  `ORDER BY <metric> DESC LIMIT n` over groups. DuckDB returns
         every group (no ORDER BY / LIMIT). The returned metric values
         must equal DuckDB's top n (so ties at the cut may pick any
         key), and every returned row must equal its group's row.
- anyk:  `GROUP BY ... LIMIT n` with no order: n rows, each equal to
         its group's row.
- ties:  `ORDER BY <time> LIMIT n` over rows. DuckDB returns the
         candidate rows (order value <= the n-th) of column `col`
         with a `must` flag (order value < the n-th); the result must
         contain every must-row and only candidates.
`approx` columns are uniq() estimates, compared within UNIQ_REL_ERR of
the exact distinct count. `free` columns are any() picks and are not
compared. For a topk ranked by an approx column the metric values are
compared with the same tolerance and each returned key's exact value
must reach the exact n-th value less twice the tolerance.
"""

UNIQ_REL_ERR = 0.02

_FILTER = ("CounterID = 34 AND EventDate >= toDate('2013-07-01') "
           "AND EventDate <= toDate('2013-07-31')")
_DFILTER = ("CounterID = 34 AND EventDate >= DATE '2013-07-01' "
            "AND EventDate <= DATE '2013-07-31'")


def _q(ch, duck, **check):
    check.setdefault("kind", "rows")
    return {"ch": ch, "duck": duck, "check": check}


def queries(example_ru_hash, rows):
    """The queries over a `hits` of `rows` rows. q28 and q29 keep the
    reference's HAVING count > 100000 as the same share of the table:
    100,000 of its 100M rows."""
    h = example_ru_hash
    big = max(1, 100_000 * rows // 100_000_000)
    wide_ch = ", ".join(["sum(ResolutionWidth)"] +
                        [f"sum(ResolutionWidth + {k})" for k in range(1, 90)])
    wide_duck = ", ".join(["sum(ResolutionWidth)"] +
                          [f"sum(ResolutionWidth + {k})" for k in range(1, 90)])
    return [
        _q("SELECT count() FROM hits",
           "SELECT count(*) FROM hits"),
        _q("SELECT count() FROM hits WHERE AdvEngineID != 0",
           "SELECT count(*) FROM hits WHERE AdvEngineID <> 0"),
        _q("SELECT sum(AdvEngineID), count(), avg(ResolutionWidth) FROM hits",
           "SELECT sum(AdvEngineID), count(*), avg(ResolutionWidth) FROM hits"),
        _q("SELECT sum(UserID) FROM hits",
           "SELECT sum(UserID) FROM hits", wrap64=[0]),
        _q("SELECT uniq(UserID) FROM hits",
           "SELECT count(DISTINCT UserID) FROM hits", approx=[0]),
        _q("SELECT uniq(SearchPhrase) FROM hits",
           "SELECT count(DISTINCT SearchPhrase) FROM hits", approx=[0]),
        _q("SELECT min(EventDate), max(EventDate) FROM hits",
           "SELECT min(EventDate), max(EventDate) FROM hits"),
        _q("SELECT AdvEngineID, count() FROM hits WHERE AdvEngineID != 0 "
           "GROUP BY AdvEngineID ORDER BY count() DESC",
           "SELECT AdvEngineID, count(*) FROM hits WHERE AdvEngineID <> 0 "
           "GROUP BY AdvEngineID",
           kind="topk", keys=[0], metric=1, limit=100),
        _q("SELECT RegionID, uniq(UserID) AS u FROM hits GROUP BY RegionID "
           "ORDER BY u DESC LIMIT 10",
           "SELECT RegionID, count(DISTINCT UserID) FROM hits GROUP BY RegionID",
           kind="topk", keys=[0], metric=1, limit=10, approx=[1]),
        _q("SELECT RegionID, sum(AdvEngineID), count() AS c, avg(ResolutionWidth), "
           "uniq(UserID) FROM hits GROUP BY RegionID ORDER BY c DESC LIMIT 10",
           "SELECT RegionID, sum(AdvEngineID), count(*), avg(ResolutionWidth), "
           "count(DISTINCT UserID) FROM hits GROUP BY RegionID",
           kind="topk", keys=[0], metric=2, limit=10, approx=[4]),
        _q("SELECT MobilePhoneModel, uniq(UserID) AS u FROM hits "
           "WHERE MobilePhoneModel != '' GROUP BY MobilePhoneModel "
           "ORDER BY u DESC LIMIT 10",
           "SELECT MobilePhoneModel, count(DISTINCT UserID) FROM hits "
           "WHERE MobilePhoneModel <> '' GROUP BY MobilePhoneModel",
           kind="topk", keys=[0], metric=1, limit=10, approx=[1]),
        _q("SELECT MobilePhone, MobilePhoneModel, uniq(UserID) AS u FROM hits "
           "WHERE MobilePhoneModel != '' GROUP BY MobilePhone, MobilePhoneModel "
           "ORDER BY u DESC LIMIT 10",
           "SELECT MobilePhone, MobilePhoneModel, count(DISTINCT UserID) FROM hits "
           "WHERE MobilePhoneModel <> '' GROUP BY MobilePhone, MobilePhoneModel",
           kind="topk", keys=[0, 1], metric=2, limit=10, approx=[2]),
        _q("SELECT SearchPhrase, count() AS c FROM hits WHERE SearchPhrase != '' "
           "GROUP BY SearchPhrase ORDER BY c DESC LIMIT 10",
           "SELECT SearchPhrase, count(*) FROM hits WHERE SearchPhrase <> '' "
           "GROUP BY SearchPhrase",
           kind="topk", keys=[0], metric=1, limit=10),
        _q("SELECT SearchPhrase, uniq(UserID) AS u FROM hits WHERE SearchPhrase != '' "
           "GROUP BY SearchPhrase ORDER BY u DESC LIMIT 10",
           "SELECT SearchPhrase, count(DISTINCT UserID) FROM hits "
           "WHERE SearchPhrase <> '' GROUP BY SearchPhrase",
           kind="topk", keys=[0], metric=1, limit=10, approx=[1]),
        _q("SELECT SearchEngineID, SearchPhrase, count() AS c FROM hits "
           "WHERE SearchPhrase != '' GROUP BY SearchEngineID, SearchPhrase "
           "ORDER BY c DESC LIMIT 10",
           "SELECT SearchEngineID, SearchPhrase, count(*) FROM hits "
           "WHERE SearchPhrase <> '' GROUP BY SearchEngineID, SearchPhrase",
           kind="topk", keys=[0, 1], metric=2, limit=10),
        _q("SELECT UserID, count() FROM hits GROUP BY UserID "
           "ORDER BY count() DESC LIMIT 10",
           "SELECT UserID, count(*) FROM hits GROUP BY UserID",
           kind="topk", keys=[0], metric=1, limit=10),
        _q("SELECT UserID, SearchPhrase, count() FROM hits "
           "GROUP BY UserID, SearchPhrase ORDER BY count() DESC LIMIT 10",
           "SELECT UserID, SearchPhrase, count(*) FROM hits "
           "GROUP BY UserID, SearchPhrase",
           kind="topk", keys=[0, 1], metric=2, limit=10),
        _q("SELECT UserID, SearchPhrase, count() FROM hits "
           "GROUP BY UserID, SearchPhrase LIMIT 10",
           "SELECT UserID, SearchPhrase, count(*) FROM hits "
           "GROUP BY UserID, SearchPhrase",
           kind="anyk", keys=[0, 1], limit=10),
        _q("SELECT UserID, toMinute(EventTime) AS m, SearchPhrase, count() FROM hits "
           "GROUP BY UserID, m, SearchPhrase ORDER BY count() DESC LIMIT 10",
           "SELECT UserID, minute(EventTime), SearchPhrase, count(*) FROM hits "
           "GROUP BY UserID, minute(EventTime), SearchPhrase",
           kind="topk", keys=[0, 1, 2], metric=3, limit=10),
        _q("SELECT UserID FROM hits WHERE UserID = 12345678901234567890",
           "SELECT UserID FROM hits "
           "WHERE CAST(UserID AS HUGEINT) = 12345678901234567890"),
        _q("SELECT count() FROM hits WHERE URL LIKE '%metrika%'",
           "SELECT count(*) FROM hits WHERE URL LIKE '%metrika%'"),
        _q("SELECT SearchPhrase, any(URL), count() AS c FROM hits "
           "WHERE URL LIKE '%metrika%' AND SearchPhrase != '' "
           "GROUP BY SearchPhrase ORDER BY c DESC LIMIT 10",
           "SELECT SearchPhrase, any_value(URL), count(*) FROM hits "
           "WHERE URL LIKE '%metrika%' AND SearchPhrase <> '' GROUP BY SearchPhrase",
           kind="topk", keys=[0], metric=2, limit=10, free=[1]),
        _q("SELECT SearchPhrase, any(URL), any(Title), count() AS c, uniq(UserID) "
           "FROM hits WHERE Title LIKE '%Яндекс%' AND URL NOT LIKE '%.yandex.%' "
           "AND SearchPhrase != '' GROUP BY SearchPhrase ORDER BY c DESC LIMIT 10",
           "SELECT SearchPhrase, any_value(URL), any_value(Title), count(*), "
           "count(DISTINCT UserID) FROM hits WHERE Title LIKE '%Яндекс%' "
           "AND URL NOT LIKE '%.yandex.%' AND SearchPhrase <> '' GROUP BY SearchPhrase",
           kind="topk", keys=[0], metric=3, limit=10, free=[1, 2], approx=[4]),
        _q("SELECT * FROM hits PREWHERE URL LIKE '%metrika%' "
           "ORDER BY EventTime LIMIT 10",
           "WITH r AS (SELECT WatchID, EventTime FROM hits WHERE URL LIKE '%metrika%'), "
           "c AS (SELECT EventTime AS cut FROM r ORDER BY EventTime LIMIT 1 OFFSET 9) "
           "SELECT WatchID, EventTime < cut FROM r, c WHERE EventTime <= cut",
           kind="ties", col="WatchID", limit=10),
        _q("SELECT SearchPhrase FROM hits WHERE SearchPhrase != '' "
           "ORDER BY EventTime LIMIT 10",
           "WITH r AS (SELECT SearchPhrase, EventTime FROM hits WHERE SearchPhrase <> ''), "
           "c AS (SELECT EventTime AS cut FROM r ORDER BY EventTime LIMIT 1 OFFSET 9) "
           "SELECT SearchPhrase, EventTime < cut FROM r, c WHERE EventTime <= cut",
           kind="ties", col="SearchPhrase", limit=10),
        _q("SELECT SearchPhrase FROM hits WHERE SearchPhrase != '' "
           "ORDER BY SearchPhrase LIMIT 10",
           "SELECT SearchPhrase FROM hits WHERE SearchPhrase <> '' "
           "ORDER BY SearchPhrase LIMIT 10", ordered=True),
        _q("SELECT SearchPhrase FROM hits WHERE SearchPhrase != '' "
           "ORDER BY EventTime, SearchPhrase LIMIT 10",
           "SELECT SearchPhrase FROM hits WHERE SearchPhrase <> '' "
           "ORDER BY EventTime, SearchPhrase LIMIT 10", ordered=True),
        _q("SELECT CounterID, avg(length(URL)) AS l, count() AS c FROM hits "
           f"WHERE URL != '' GROUP BY CounterID HAVING c > {big} "
           "ORDER BY l DESC LIMIT 25",
           "SELECT CounterID, avg(strlen(URL)), count(*) AS c FROM hits "
           f"WHERE URL <> '' GROUP BY CounterID HAVING count(*) > {big}",
           kind="topk", keys=[0], metric=1, limit=25),
        _q("SELECT domainWithoutWWW(Referer) AS key, avg(length(Referer)) AS l, "
           "count() AS c, any(Referer) FROM hits WHERE Referer != '' "
           f"GROUP BY key HAVING c > {big} ORDER BY l DESC LIMIT 25",
           "SELECT regexp_extract(Referer, '^[a-z]+://(www\\.)?([^/:?#]*)', 2) AS key, "
           "avg(strlen(Referer)), count(*), any_value(Referer) FROM hits "
           f"WHERE Referer <> '' GROUP BY key HAVING count(*) > {big}",
           kind="topk", keys=[0], metric=1, limit=25, free=[3]),
        _q(f"SELECT {wide_ch} FROM hits",
           f"SELECT {wide_duck} FROM hits"),
        _q("SELECT SearchEngineID, ClientIP, count() AS c, sum(Refresh), "
           "avg(ResolutionWidth) FROM hits WHERE SearchPhrase != '' "
           "GROUP BY SearchEngineID, ClientIP ORDER BY c DESC LIMIT 10",
           "SELECT SearchEngineID, ClientIP, count(*), sum(Refresh), "
           "avg(ResolutionWidth) FROM hits WHERE SearchPhrase <> '' "
           "GROUP BY SearchEngineID, ClientIP",
           kind="topk", keys=[0, 1], metric=2, limit=10),
        _q("SELECT WatchID, ClientIP, count() AS c, sum(Refresh), "
           "avg(ResolutionWidth) FROM hits WHERE SearchPhrase != '' "
           "GROUP BY WatchID, ClientIP ORDER BY c DESC LIMIT 10",
           "SELECT WatchID, ClientIP, count(*), sum(Refresh), avg(ResolutionWidth) "
           "FROM hits WHERE SearchPhrase <> '' GROUP BY WatchID, ClientIP",
           kind="topk", keys=[0, 1], metric=2, limit=10),
        _q("SELECT WatchID, ClientIP, count() AS c, sum(Refresh), "
           "avg(ResolutionWidth) FROM hits GROUP BY WatchID, ClientIP "
           "ORDER BY c DESC LIMIT 10",
           "SELECT WatchID, ClientIP, count(*), sum(Refresh), avg(ResolutionWidth) "
           "FROM hits GROUP BY WatchID, ClientIP",
           kind="topk", keys=[0, 1], metric=2, limit=10),
        _q("SELECT URL, count() AS c FROM hits GROUP BY URL ORDER BY c DESC LIMIT 10",
           "SELECT URL, count(*) FROM hits GROUP BY URL",
           kind="topk", keys=[0], metric=1, limit=10),
        _q("SELECT 1, URL, count() AS c FROM hits GROUP BY 1, URL "
           "ORDER BY c DESC LIMIT 10",
           "SELECT 1, URL, count(*) FROM hits GROUP BY URL",
           kind="topk", keys=[1], metric=2, limit=10),
        _q("SELECT ClientIP AS x, x - 1, x - 2, x - 3, count() AS c FROM hits "
           "GROUP BY x, x - 1, x - 2, x - 3 ORDER BY c DESC LIMIT 10",
           "SELECT ClientIP, ClientIP - 1, ClientIP - 2, ClientIP - 3, count(*) "
           "FROM hits GROUP BY ClientIP",
           kind="topk", keys=[0], metric=4, limit=10),
        _q(f"SELECT URL, count() AS PageViews FROM hits WHERE {_FILTER} "
           "AND NOT DontCountHits AND NOT Refresh AND notEmpty(URL) "
           "GROUP BY URL ORDER BY PageViews DESC LIMIT 10",
           f"SELECT URL, count(*) FROM hits WHERE {_DFILTER} AND DontCountHits = 0 "
           "AND Refresh = 0 AND URL <> '' GROUP BY URL",
           kind="topk", keys=[0], metric=1, limit=10),
        _q(f"SELECT Title, count() AS PageViews FROM hits WHERE {_FILTER} "
           "AND NOT DontCountHits AND NOT Refresh AND notEmpty(Title) "
           "GROUP BY Title ORDER BY PageViews DESC LIMIT 10",
           f"SELECT Title, count(*) FROM hits WHERE {_DFILTER} AND DontCountHits = 0 "
           "AND Refresh = 0 AND Title <> '' GROUP BY Title",
           kind="topk", keys=[0], metric=1, limit=10),
        _q(f"SELECT URL, count() AS PageViews FROM hits WHERE {_FILTER} "
           "AND NOT Refresh AND IsLink AND NOT IsDownload "
           "GROUP BY URL ORDER BY PageViews DESC LIMIT 1000",
           f"SELECT URL, count(*) FROM hits WHERE {_DFILTER} AND Refresh = 0 "
           "AND IsLink <> 0 AND IsDownload = 0 GROUP BY URL",
           kind="topk", keys=[0], metric=1, limit=1000),
        _q("SELECT TraficSourceID, SearchEngineID, AdvEngineID, "
           "((SearchEngineID = 0 AND AdvEngineID = 0) ? Referer : '') AS Src, "
           f"URL AS Dst, count() AS PageViews FROM hits WHERE {_FILTER} "
           "AND NOT Refresh GROUP BY TraficSourceID, SearchEngineID, AdvEngineID, "
           "Src, Dst ORDER BY PageViews DESC LIMIT 1000",
           "SELECT TraficSourceID, SearchEngineID, AdvEngineID, "
           "CASE WHEN SearchEngineID = 0 AND AdvEngineID = 0 THEN Referer ELSE '' END AS Src, "
           f"URL AS Dst, count(*) FROM hits WHERE {_DFILTER} AND Refresh = 0 "
           "GROUP BY TraficSourceID, SearchEngineID, AdvEngineID, Src, Dst",
           kind="topk", keys=[0, 1, 2, 3, 4], metric=5, limit=1000),
        _q(f"SELECT URLHash, EventDate, count() AS PageViews FROM hits WHERE {_FILTER} "
           "AND NOT Refresh AND TraficSourceID IN (-1, 6) "
           "AND RefererHash = halfMD5('http://example.ru/') "
           "GROUP BY URLHash, EventDate ORDER BY PageViews DESC LIMIT 100",
           f"SELECT URLHash, EventDate, count(*) FROM hits WHERE {_DFILTER} "
           f"AND Refresh = 0 AND TraficSourceID IN (-1, 6) AND RefererHash = {h} "
           "GROUP BY URLHash, EventDate",
           kind="topk", keys=[0, 1], metric=2, limit=100),
        _q("SELECT WindowClientWidth, WindowClientHeight, count() AS PageViews "
           f"FROM hits WHERE {_FILTER} AND NOT Refresh AND NOT DontCountHits "
           "AND URLHash = halfMD5('http://example.ru/') "
           "GROUP BY WindowClientWidth, WindowClientHeight "
           "ORDER BY PageViews DESC LIMIT 10000",
           "SELECT WindowClientWidth, WindowClientHeight, count(*) FROM hits "
           f"WHERE {_DFILTER} AND Refresh = 0 AND DontCountHits = 0 AND URLHash = {h} "
           "GROUP BY WindowClientWidth, WindowClientHeight",
           kind="topk", keys=[0, 1], metric=2, limit=10000),
        _q("SELECT toStartOfMinute(EventTime) AS Minute, count() AS PageViews "
           "FROM hits WHERE CounterID = 34 AND EventDate >= toDate('2013-07-01') "
           "AND EventDate <= toDate('2013-07-02') AND NOT Refresh "
           "AND NOT DontCountHits GROUP BY Minute ORDER BY Minute",
           "SELECT date_trunc('minute', EventTime) AS m, count(*) FROM hits "
           "WHERE CounterID = 34 AND EventDate >= DATE '2013-07-01' "
           "AND EventDate <= DATE '2013-07-02' AND Refresh = 0 AND DontCountHits = 0 "
           "GROUP BY m ORDER BY m", ordered=True),
    ]


# The heavy GROUP BY class over raw high-cardinality keys (BASELINE.md's
# seconds-class tail and ROADMAP's q16/q29/q36 residual), 1-based.
HEAVY = (16, 17, 19, 29, 33, 34, 35, 36)
