"""Seeded input generators for the benchmark.

Everything here is a pure function of (parameters, seed): the same seed gives
byte-identical files. Outputs go to a caller-chosen directory; the harness
passes a fresh per-run directory inside the checkout.

Events follow the Wistia event shape (FIXTURES.md section 1): 16 fields with a
nested `user_agent_details`, geo fields, nullable `email`/`org`. They are laid
out as paged feeds:

- `events.parquet`: one row per event copy served by a feed, with its feed id,
  page number, position on the page, and two flags: `redelivered` (a copy of an
  event already served on an earlier day) and `lost` (the copy sits on a page
  the stand-in serves as an unparseable body, so no consumer can read it).
- `feeds.parquet`: one row per feed: media id, day, envelope shape, page
  count, declared total and the corrupt last-page body, if any.
- `media.jsonl`: one metadata object per media (FIXTURES.md section 2), with
  the `updated -> updated_at -> created` fallback variants.

Documents follow tools/gen_documents.py's distribution (30-word vocabulary,
10..100 tokens, 5% near-duplicates that copy an earlier document and mutate
each token to 'dup' at 5%).
"""
import datetime as dt
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ENVELOPES = ["data", "events", "items", "results"]
BROWSERS = [("Chrome", "124.0"), ("Firefox", "125.0"), ("Safari", "17.4"),
            ("Edge", "123.0")]
PLATFORMS = [("Windows", False), ("Mac", False), ("Linux", False),
             ("iOS", True), ("Android", True)]
PLACES = [("US", "California", "San Francisco", 37.7749, -122.4194),
          ("US", "New York", "New York", 40.7128, -74.006),
          ("GB", "England", "London", 51.5072, -0.1276),
          ("DE", "Berlin", "Berlin", 52.52, 13.405),
          ("IN", "Karnataka", "Bengaluru", 12.9716, 77.5946),
          ("BR", "Sao Paulo", "Sao Paulo", -23.5558, -46.6396),
          ("JP", "Tokyo", "Tokyo", 35.6762, 139.6503),
          ("AU", "New South Wales", "Sydney", -33.8688, 151.2093)]
ORGS = ["Acme Corp", "Globex", "Initech", "Umbrella", "Hooli"]
VISITORS = 3000
START_DAY = dt.date(2025, 3, 1)


def _media_ids(rng, n):
    return ["%010x" % int(v) for v in rng.integers(1 << 36, 1 << 40, n)]


def _media_objects(rng, media):
    out = []
    for k, m in enumerate(media):
        created = START_DAY - dt.timedelta(days=30 + k)
        obj = {"hashed_id": m, "name": "Video %d" % k,
               "section": "Section %d" % (k % 3),
               "subfolder": {"name": "folder-%d" % (k % 2)},
               "thumbnail": {"url": "https://embed-ssl.wistia.com/%s.jpg" % m},
               "project": {"name": "Project %d" % (k % 2)}}
        dur = round(float(rng.integers(3000, 90000)) / 100.0, 2)
        # the API sends duration as a number or as a string
        obj["duration"] = dur if k % 2 == 0 else str(dur)
        obj["created"] = created.isoformat() + "T08:00:00Z"
        variant = k % 3
        if variant == 0:
            obj["updated"] = (created + dt.timedelta(days=7)).isoformat() + "T09:30:00Z"
        elif variant == 1:
            obj["updated_at"] = (created + dt.timedelta(days=3)).isoformat() + "T10:15:00Z"
        out.append(obj)
    return out


def _day_events(rng, seed, media, day, n, first_index):
    """Columns for `n` fresh events of one media on one day."""
    idx = np.arange(first_index, first_index + n, dtype=np.uint64)
    secs = rng.integers(0, 86400, n)
    stamps = np.datetime64(day.isoformat()) + secs.astype("timedelta64[s]")
    viewed = rng.integers(1, 101, n) / 100.0
    viewed[rng.random(n) < 0.3] = 0.0
    visitor = rng.integers(0, VISITORS, n)
    browser = rng.integers(0, len(BROWSERS), n)
    platform = rng.integers(0, len(PLATFORMS), n)
    place = rng.integers(0, len(PLACES), n)
    jitter = rng.random((n, 2)) * 0.1
    email_null = rng.random(n) < 0.6
    org = rng.integers(-len(ORGS) * 2, len(ORGS), n)
    ip = rng.integers(0, 256, (n, 3))
    lat = np.array([p[3] for p in PLACES])[place] + jitter[:, 0]
    lon = np.array([p[4] for p in PLACES])[place] + jitter[:, 1]
    # a bijection of the running index, so keys are unique without a set
    keys = (idx + np.uint64(1)) * np.uint64(0x9E3779B97F4A7C15) + np.uint64(seed)
    return {
        "event_key": ["%016x" % k for k in keys.tolist()],
        "received_at": [t + "Z" for t in np.datetime_as_string(stamps, unit="s").tolist()],
        "percent_viewed": viewed.tolist(),
        "embed_url": ["https://fast.wistia.net/embed/iframe/%s" % media] * n,
        "email": [None if e else "user%05d@example.com" % v
                  for e, v in zip(email_null.tolist(), visitor.tolist())],
        "ip": ["10.%d.%d.%d" % tuple(r) for r in ip.tolist()],
        "ua_browser": [BROWSERS[b][0] for b in browser.tolist()],
        "ua_browser_version": [BROWSERS[b][1] for b in browser.tolist()],
        "ua_platform": [PLATFORMS[p][0] for p in platform.tolist()],
        "ua_mobile": [PLATFORMS[p][1] for p in platform.tolist()],
        "visitor_key": ["v%05d" % v for v in visitor.tolist()],
        "country": [PLACES[p][0] for p in place.tolist()],
        "region": [PLACES[p][1] for p in place.tolist()],
        "city": [PLACES[p][2] for p in place.tolist()],
        "lat": np.round(lat, 4).tolist(),
        "lon": np.round(lon, 4).tolist(),
        "org": [ORGS[o] if o >= 0 else None for o in org.tolist()],
    }


def gen_events(out_dir, seed, *, media, days, events_per_day, page_size,
               redeliver_frac, corrupt_every, layout="daily"):
    """Write events.parquet, feeds.parquet, pages.jsonl and media.jsonl to
    `out_dir`.

    Redelivered copies are drawn from the previous day's events of the same
    media and shuffled in with the day's fresh events. Each feed has one
    page shape: a bare array, or one of the four envelopes. Bare pages
    declare no total, so a client needs the page size to find the last page.
    An unparseable page replaces a feed's last page, so the copies laid out
    on it are lost. The `layout` sets the feeds:

    - `daily`: one feed per (media, day), named `<media>/<day>`, as a daily
      pull sees it. On every `corrupt_every`-th day, starting with the
      first, one feed chosen at random ends in an unparseable page.
      Redelivered copies come from the previous day's readable events.
    - `history`: one feed per media, named `<media>/all`, holding its days
      in order, as a backfill sees it. Every `corrupt_every`-th media feed,
      starting with the first, ends in an unparseable page.
    """
    rng = np.random.default_rng(seed)
    pyrng = random.Random(seed)
    media_ids = _media_ids(rng, media)
    per_media_day = max(1, events_per_day // media)
    columns = {}
    shapes = ENVELOPES + ["bare"]
    copies = {k: [] for k in ["feed", "page", "pos", "redelivered", "lost", "row"]}
    feeds = []
    readable_prev = {m: [] for m in media_ids}
    n_rows = 0

    def lay_out(feed, m, day, order, corrupt):
        """Pages `order`, a list of (row, redelivered) copies, into a feed."""
        n_pages = max(1, -(-len(order) // page_size))
        body = None
        if corrupt:
            body = ("<html><body>502 Bad Gateway (feed %s, page %d)</body></html>"
                    % (feed, n_pages))
        readable = []
        for j, (r, again) in enumerate(order):
            page = j // page_size + 1
            lost = corrupt and page == n_pages
            copies["feed"].append(feed)
            copies["page"].append(page)
            copies["pos"].append(j % page_size)
            copies["redelivered"].append(again)
            copies["lost"].append(lost)
            copies["row"].append(r)
            if not lost and not again:
                readable.append(r)
        feeds.append({"feed": feed, "media_id": m, "day": day,
                      "shape": pyrng.choice(shapes), "n_pages": n_pages,
                      "total": len(order), "corrupt_payload": body})
        return readable

    history = {m: [] for m in media_ids}
    for d in range(days):
        day = START_DAY + dt.timedelta(days=d)
        bad_media = pyrng.randrange(media) if d % corrupt_every == 0 else -1
        for k, m in enumerate(media_ids):
            n = int(per_media_day * (0.8 + 0.4 * rng.random()))
            cols = _day_events(rng, seed, m, day, n, n_rows)
            cols["media_id"] = [m] * n
            cols["media_name"] = ["Video %d" % k] * n
            for c, v in cols.items():
                columns.setdefault(c, []).extend(v)
            fresh = list(range(n_rows, n_rows + n))
            n_rows += n
            prev = readable_prev[m]
            again = pyrng.sample(prev, min(len(prev), int(round(n * redeliver_frac))))
            order = [(r, False) for r in fresh] + [(r, True) for r in again]
            pyrng.shuffle(order)
            if layout == "daily":
                readable_prev[m] = lay_out("%s/%s" % (m, day.isoformat()), m,
                                           day.isoformat(), order, k == bad_media)
            else:
                history[m] += order
                # only a feed's last page can be lost, after the last day
                readable_prev[m] = fresh
    if layout == "history":
        for k, m in enumerate(media_ids):
            lay_out("%s/all" % m, m, "all", history[m], k % corrupt_every == 0)
    table = {c: copies[c] for c in ["feed", "page", "pos", "redelivered", "lost"]}
    for c, v in columns.items():
        table[c] = [v[r] for r in copies["row"]]
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(pa.table(table), os.path.join(out_dir, "events.parquet"))
    pq.write_table(pa.Table.from_pylist(feeds), os.path.join(out_dir, "feeds.parquet"))
    _render(table, feeds, page_size, os.path.join(out_dir, "pages.jsonl"))
    with open(os.path.join(out_dir, "media.jsonl"), "w") as f:
        for obj in _media_objects(rng, media_ids):
            f.write(json.dumps(obj, sort_keys=True) + "\n")
    return len(table["feed"])


def _render(table, feeds, page_size, path):
    """pages.jsonl: per feed, the page bodies the API serves, the readable
    events on each page, and the body of a page past the end."""
    # The generated strings hold no characters JSON must escape, so events
    # are formatted directly, with the key order of FIXTURES.md section 1.
    def js(v):
        return "null" if v is None else '"%s"' % v
    t = table
    pages = {}
    for i in range(len(t["feed"])):
        ev = ('{"event_key":"%s","received_at":"%s","percent_viewed":%r,"embed_url":"%s",'
              '"email":%s,"ip":"%s","user_agent_details":{"browser":"%s",'
              '"browser_version":"%s","platform":"%s","mobile":%s},"visitor_key":"%s",'
              '"country":"%s","region":"%s","city":"%s","lat":%r,"lon":%r,"org":%s,'
              '"media_id":"%s","media_name":"%s"}') % (
            t["event_key"][i], t["received_at"][i], t["percent_viewed"][i],
            t["embed_url"][i], js(t["email"][i]), t["ip"][i], t["ua_browser"][i],
            t["ua_browser_version"][i], t["ua_platform"][i],
            "true" if t["ua_mobile"][i] else "false", t["visitor_key"][i],
            t["country"][i], t["region"][i], t["city"][i], t["lat"][i], t["lon"][i],
            js(t["org"][i]), t["media_id"][i], t["media_name"][i])
        pages.setdefault((t["feed"][i], t["page"][i]), []).append(ev)

    def envelope(shape, rows, total):
        if shape == "bare":
            return "[" + ",".join(rows) + "]"
        return '{"%s":[%s],"total":%d,"per_page":%d}' % (shape, ",".join(rows), total, page_size)

    with open(path, "w") as f:
        for spec in feeds:
            bodies, counts = [], []
            for pg in range(1, spec["n_pages"] + 1):
                rows = pages.get((spec["feed"], pg), [])
                if spec["corrupt_payload"] is not None and pg == spec["n_pages"]:
                    bodies.append(spec["corrupt_payload"])
                    counts.append(0)
                else:
                    bodies.append(envelope(spec["shape"], rows, spec["total"]))
                    counts.append(len(rows))
            f.write(json.dumps({"feed": spec["feed"], "media_id": spec["media_id"],
                                "day": spec["day"], "pages": bodies, "events": counts,
                                "empty": envelope(spec["shape"], [], spec["total"]),
                                "corrupt": spec["corrupt_payload"] is not None}) + "\n")


VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch",
]
LANGS = ["en", "es", "fr", "zh", "de"]
LANG_W = [0.41, 0.15, 0.15, 0.15, 0.14]


def gen_documents(out_path, seed, n_docs, dup_frac=0.05):
    """documents.parquet with tools/gen_documents.py's distribution."""
    rng = random.Random(seed)
    texts, langs, sources, n_chars, token_lists = [], [], [], [], []
    for i in range(n_docs):
        if i > 0 and rng.random() < dup_frac:
            toks = [("dup" if rng.random() < 0.05 else t)
                    for t in token_lists[rng.randrange(i)]]
        else:
            toks = [rng.choice(VOCAB) for _ in range(rng.randint(10, 100))]
        token_lists.append(toks)
        text = " ".join(toks)
        texts.append(text)
        langs.append(rng.choices(LANGS, weights=LANG_W)[0])
        sources.append("src%d" % rng.randrange(20))
        n_chars.append(len(text))
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array(n_chars, pa.int64()),
    }), out_path)
    return n_docs
