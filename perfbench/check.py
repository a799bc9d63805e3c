"""Correctness check for one benchmark run, untimed, after the timed ops.

* Pipeline tables: the warehouse the ops wrote holds exactly the rows the
  generator's expectations predict (songs = items landed; album/artist =
  one keep-first row per id per runBatch call), and every day's ranks run
  1..M. The stream's songs table is held to the same item and rank rules.
* Q1-Q4: the program's answers over its own warehouse equal DuckDB's over
  the raw landing files (``read_text`` + the JSON functions), with the
  reference's semantics re-derived in SQL.

Returns a list of (check name, ok, detail).
"""
import json
import math
import os

import duckdb

ITEMS = """
WITH f AS (SELECT filename, CAST(CAST(content AS JSON) AS JSON[]) AS arr FROM read_text($files)),
e AS (SELECT filename, unnest(range(len(arr))) AS ord, unnest(arr) AS item FROM f)
SELECT regexp_extract(filename, '[^/]+$') AS src_file, ord,
       CAST(strptime(regexp_extract(filename, 'spotify_raw_(\\d{14})', 1),
                     '%Y%m%d%H%M%S') AS DATE) AS scrape_date,
       item
FROM e
"""

SONGS = """
CREATE TABLE songs AS
SELECT item->>'$.track.id' AS song_id, item->>'$.track.name' AS song_name,
       item->>'$.track.album.id' AS album_id,
       item->>'$.track.album.artists[0].id' AS artist_id,
       CAST(row_number() OVER (PARTITION BY scrape_date ORDER BY src_file, ord) AS INT) AS rank,
       scrape_date
FROM items
"""

# one keep-first row per id per runBatch call (batch = b)
ALBUM = """
CREATE TABLE album AS
SELECT b, item->>'$.track.album.id' AS album_id,
       first(item->>'$.track.album.name' ORDER BY scrape_date, ord) AS name
FROM items GROUP BY b, album_id
"""

ARTIST = """
CREATE TABLE artist AS
WITH x AS (
  SELECT b, scrape_date, ord, a.pos, json_extract(item, '$.track.artists') AS arr
  FROM items, (SELECT unnest(range(0, 3)) AS pos) a
  WHERE a.pos < json_array_length(json_extract(item, '$.track.artists')))
SELECT b, arr->>('$[' || pos || '].id') AS artist_id,
       first(arr->>('$[' || pos || '].name') ORDER BY scrape_date, ord, pos) AS artist_name
FROM x GROUP BY b, artist_id
"""

QUERIES = {
    "q1": """SELECT song_name, rank, CAST(scrape_date AS VARCHAR) AS scrape_date, song_id
             FROM songs WHERE scrape_date >= (SELECT max(scrape_date) FROM songs) - 7
             ORDER BY rank, scrape_date, song_id LIMIT 10""",
    "q2": """SELECT s.album_id, a.name AS album_name, CAST(s.scrape_date AS VARCHAR) AS scrape_date,
                    avg(s.rank) AS avg_rank
             FROM songs s JOIN album a ON s.album_id = a.album_id
             GROUP BY s.album_id, a.name, s.scrape_date ORDER BY s.album_id, s.scrape_date""",
    "q3": """SELECT s.artist_id, a.artist_name, count(*) AS top_10_appearances
             FROM songs s JOIN artist a ON s.artist_id = a.artist_id
             WHERE s.rank <= 10 GROUP BY s.artist_id, a.artist_name
             ORDER BY top_10_appearances DESC, s.artist_id LIMIT 10""",
    "q4": """SELECT song_id, song_name, rank, CAST(scrape_date AS VARCHAR) AS scrape_date,
                    rank - lag(rank, 1) OVER (PARTITION BY song_id ORDER BY scrape_date) AS rank_change
             FROM songs WHERE song_id = $song ORDER BY scrape_date""",
}


def _same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def _batch_rows(batch, days, prefix, key):
    """Expected keep-first rows of one runBatch call over `batch`."""
    names = [d["file"] for d in days]
    if batch == names[:len(batch)]:
        return prefix[len(batch)]
    if len(batch) == 1:
        return days[names.index(batch[0])][key]
    raise ValueError(f"batch of {len(batch)} files is neither one day nor a prefix")


def _rank_rows(con, glob):
    return con.execute(f"""
        SELECT CAST(scrape_date AS VARCHAR), count(*), min(rank), max(rank), count(DISTINCT rank)
        FROM read_parquet('{glob}', hive_partitioning = true) GROUP BY 1""").fetchall()


def _table_checks(con, name, glob, by_date):
    rows = _rank_rows(con, glob)
    got = sum(r[1] for r in rows)
    want = sum(by_date.values())
    yield f"{name}.rows", got == want, f"{got} rows, expected {want}"
    bad = [r for r in rows
           if not (r[1] == by_date.get(r[0]) and r[2] == 1 and r[3] == r[1] and r[4] == r[1])]
    yield f"{name}.ranks", not bad and len(rows) == len(by_date), \
        f"{len(bad)} days without ranks 1..M; {len(rows)} days vs {len(by_date)}"


def run_checks(result, expect, landing_dir):
    """All checks for one run; `result` is the harness's result.json."""
    out = []
    days = expect["days"]
    batches = result["batches"]
    landed = [f for b in batches for f in b]
    by_file = {d["file"]: d for d in days}
    by_date = {}
    for f in landed:
        by_date[by_file[f]["date"]] = by_date.get(by_file[f]["date"], 0) + by_file[f]["items"]
    # spills, if any, stay in the run's work dir
    tmp = os.path.join(os.path.dirname(result["queries"]), "duckdb-tmp")
    con = duckdb.connect(config={"threads": 2, "memory_limit": "1GB", "temp_directory": tmp})
    wh = result["warehouse"]

    out += list(_table_checks(con, "songs", f"{wh}/songs/*/*.parquet", by_date))
    stream_dates = {by_file[f]["date"]: by_file[f]["items"] for f in set(landed)}
    out += list(_table_checks(con, "stream_songs", f"{result['stream_out']}/*/*.parquet",
                              stream_dates))
    n_days = len(set(landed))
    for table, key, prefix in (("album", "albums", expect["prefix_albums"]),
                               ("artist", "artists", expect["prefix_artists"])):
        want_rows = sum(_batch_rows(b, days, prefix, key) for b in batches)
        got_rows, got_ids = con.execute(
            f"SELECT count(*), count(DISTINCT {table}_id) FROM read_parquet('{wh}/{table}/*.parquet')"
        ).fetchone()
        out.append((f"{table}.rows", got_rows == want_rows, f"{got_rows} rows, expected {want_rows}"))
        out.append((f"{table}.ids", got_ids == prefix[n_days],
                    f"{got_ids} distinct ids, expected {prefix[n_days]}"))

    batch_of = [(f, i) for i, b in enumerate(batches) for f in b]
    con.execute("CREATE TABLE batch_of(src_file VARCHAR, b INT)")
    con.executemany("INSERT INTO batch_of VALUES (?, ?)", batch_of)
    files = [os.path.join(landing_dir, f) for f in sorted(set(landed))]
    con.execute("CREATE TABLE items0 AS " + ITEMS, {"files": files})
    con.execute("CREATE TABLE items AS SELECT i.*, b.b FROM items0 i JOIN batch_of b USING (src_file)")
    con.execute(SONGS)
    con.execute(ALBUM)
    con.execute(ARTIST)
    for q, sql in QUERIES.items():
        params = {"song": expect["q4_song_id"]} if q == "q4" else {}
        cur = con.execute(sql, params)
        cols = [c[0] for c in cur.description]
        want = [dict(zip(cols, r)) for r in cur.fetchall()]
        with open(os.path.join(result["queries"], f"{q}.jsonl")) as f:
            got = [json.loads(line) for line in f if line.strip()]
        ok = len(got) == len(want) and all(
            all(_same(g.get(c), w[c]) for c in cols) for g, w in zip(got, want))
        out.append((f"{q}.duckdb", ok, f"{len(got)} rows vs DuckDB {len(want)}"))
    con.close()
    return out
