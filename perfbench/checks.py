"""Output checks: each workload's committed tables against a DuckDB recompute
from the generated inputs. Each workload's function returns a list of
(name, passed, detail)."""
import os
import re

import duckdb

FACT_COLS = """event_key, epoch_us(received_at) AS received_at, percent_viewed,
  embed_url, email, ip, user_agent_browser, user_agent_browser_version,
  user_agent_platform, user_agent_mobile, visitor_key, country, region, city,
  lat, lon, org, media_id, media_name"""

# the generated events as the fact table must hold them
TRUTH_COLS = """event_key, epoch_us(CAST(received_at AS TIMESTAMPTZ)) AS received_at,
  percent_viewed, embed_url, email, ip, ua_browser AS user_agent_browser,
  ua_browser_version AS user_agent_browser_version,
  ua_platform AS user_agent_platform, ua_mobile AS user_agent_mobile,
  visitor_key, country, region, city, lat, lon, org, media_id, media_name"""


def _same(con, name, want_sql, got_sql):
    """Row-multiset equality of two queries, both ways, plus row counts."""
    n_want = con.execute(f"SELECT count(*) FROM ({want_sql})").fetchone()[0]
    n_got = con.execute(f"SELECT count(*) FROM ({got_sql})").fetchone()[0]
    extra = con.execute(
        f"SELECT count(*) FROM (({got_sql}) EXCEPT ALL ({want_sql}))").fetchone()[0]
    missing = con.execute(
        f"SELECT count(*) FROM (({want_sql}) EXCEPT ALL ({got_sql}))").fetchone()[0]
    ok = n_want == n_got and extra == 0 and missing == 0 and n_want > 0
    return name, ok, "want %d got %d extra %d missing %d" % (n_want, n_got, extra, missing)


def _materialized(sql):
    """The same query with every non-recursive CTE marked MATERIALIZED.

    DuckDB inlines a CTE at each reference, so a recursive CTE re-evaluates
    the whole pipeline feeding it on every iteration; materializing the
    inputs once keeps the oracles to seconds. Results are unchanged.
    """
    heads = list(re.finditer(r"(^|,\s*)(\w+) AS \(", sql, flags=re.M))
    out, last = [], 0
    for i, m in enumerate(heads):
        end = heads[i + 1].start() if i + 1 < len(heads) else len(sql)
        body = sql[m.end():end]
        out.append(sql[last:m.start()])
        if re.search(r"\b%s\b" % m.group(2), body):
            out.append(m.group(0))  # recursive: must stay inline
        else:
            out.append("%s%s AS MATERIALIZED (" % (m.group(1), m.group(2)))
        last = m.end()
    out.append(sql[last:])
    return "".join(out)


def _connect():
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET TimeZone = 'UTC'")
    return con


def medallion_daily(input_dir, result):
    info = result["info"]
    root = info["root"]
    con = _connect()
    for t in ("events", "feeds"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(input_dir, t + '.parquet')}')")
    days = "(%s)" % ",".join("'%s'" % d for d in info["days"].split(","))
    # every event first served on a processed day, on a readable page
    truth = (f"SELECT * FROM events WHERE NOT lost AND NOT redelivered"
             f" AND substr(received_at, 1, 10) IN {days}")
    fact = f"read_parquet('{root}/silver/fact_events/*/*.parquet')"
    out = [_same(con, "fact_rows_exact", f"SELECT {TRUTH_COLS} FROM ({truth})",
                 f"SELECT {FACT_COLS} FROM {fact}")]
    dup = con.execute(f"SELECT count(*) - count(DISTINCT event_key) FROM {fact}").fetchone()[0]
    out.append(("fact_keys_once", dup == 0, "%d duplicate keys" % dup))
    out.append(_same(
        con, "quarantine_exact",
        f"SELECT corrupt_payload AS p FROM feeds WHERE corrupt_payload IS NOT NULL AND day IN {days}",
        f"SELECT raw_payload AS p FROM read_parquet('{root}/control/quarantine/*.parquet')"))
    want_gold = f"""SELECT media_id, substr(received_at, 1, 10) AS dt,
        count(*) AS load_count,
        count(*) FILTER (WHERE percent_viewed > 0) AS play_count,
        CAST(count(*) FILTER (WHERE percent_viewed > 0) AS DOUBLE) / count(*) AS play_rate,
        CAST(sum(CAST(percent_viewed AS DECIMAL(12, 2))) AS DOUBLE) AS sum_viewed,
        count(DISTINCT visitor_key) AS visitors
      FROM ({truth}) GROUP BY 1, 2"""
    got_gold = f"""SELECT media_id, CAST(dt AS VARCHAR) AS dt, load_count, play_count,
        play_rate, sum_viewed, visitors
      FROM read_parquet('{root}/gold/media_daily_agg/*/*.parquet', hive_partitioning = true)"""
    out.append(_same(con, "gold_exact", want_gold, got_gold))
    media = os.path.join(input_dir, "media.jsonl")
    want_dim = f"""SELECT hashed_id AS media_id, name AS media_name,
        CAST(duration AS DOUBLE) AS duration_seconds,
        epoch_us(CAST(created AS TIMESTAMPTZ)) AS created_at,
        epoch_us(CAST(coalesce(updated, updated_at, created) AS TIMESTAMPTZ)) AS updated_at,
        section AS section_name, subfolder.name AS subfolder_name,
        thumbnail.url AS thumbnail_url, project.name AS project_name
      FROM read_json('{media}', format = 'newline_delimited', columns = {{
        hashed_id: 'VARCHAR', name: 'VARCHAR', duration: 'VARCHAR',
        created: 'VARCHAR', updated: 'VARCHAR', updated_at: 'VARCHAR',
        section: 'VARCHAR', subfolder: 'STRUCT(name VARCHAR)',
        thumbnail: 'STRUCT(url VARCHAR)', project: 'STRUCT(name VARCHAR)'}})"""
    got_dim = f"""SELECT media_id, media_name, duration_seconds, epoch_us(created_at) AS created_at,
        epoch_us(updated_at) AS updated_at, section_name, subfolder_name, thumbnail_url,
        project_name FROM read_parquet('{root}/silver/dim_media/*.parquet')"""
    out.append(_same(con, "dim_exact", want_dim, got_dim))
    return out


def medallion_backfill(input_dir, result):
    root = result["info"]["root"]
    con = _connect()
    for t in ("events", "feeds"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(input_dir, t + '.parquet')}')")
    fact = f"read_parquet('{root}/fact/*.parquet')"
    # every event with a readable copy, once; copies of an event are equal
    out = [_same(con, "fact_rows_exact",
                 f"SELECT DISTINCT {TRUTH_COLS} FROM events WHERE NOT lost",
                 f"SELECT {FACT_COLS} FROM {fact}")]
    dup = con.execute(f"SELECT count(*) - count(DISTINCT event_key) FROM {fact}").fetchone()[0]
    out.append(("fact_keys_once", dup == 0, "%d duplicate keys" % dup))
    out.append(_same(
        con, "quarantine_exact",
        "SELECT corrupt_payload AS p FROM feeds WHERE corrupt_payload IS NOT NULL",
        f"SELECT raw_payload AS p FROM read_parquet('{root}/quarantine/*.parquet')"))
    return out


def corpus_build(input_dir, result):
    root = result["info"]["root"]
    con = _connect()
    docs = os.path.join(input_dir, "documents.parquet")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}')")
    oracle = result["oracle_sql"]
    out = []
    for name, query, table in [
            ("corpus_build_matches_q220", "q220_corpus_build", "corpus"),
            ("resume_matches_cold", "q188_cluster_resume", "labels"),
            ("forget_matches_cold_reduced", "q201_cluster_forget", "labels_forgotten")]:
        con.execute(f"CREATE TABLE want_{table} AS {_materialized(oracle[query])}")
        cols = ", ".join(r[0] for r in con.execute(f"DESCRIBE want_{table}").fetchall())
        out.append(_same(con, name, f"SELECT {cols} FROM want_{table}",
                         f"SELECT {cols} FROM read_parquet('{root}/{table}/*.parquet')"))
    return out
