"""Seeded input generator for the benchmark workloads.

Everything the engine sees is written here, from one seed:

* ``documents`` / ``embeddings`` / ``lineitem`` / ``orders`` parquet tables
  in the shape of the registry's testdata (naive microsecond timestamps,
  as the TPC-H-style generator writes them);
* for ``dashboard``: the bronze ``raw_data`` envelope
  (``id, source_spider, raw_json``) that the batch reload turns into
  silver, the JSONL upload files the upload stream drains into it, and
  the request mix.

Next to the inputs it writes ``truth.json``: the counts a correct
bronze -> silver load must produce, derived from how each row was built,
not from running the engine.
"""
import json
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Shared word list of the document corpus (the registry testdata's
# vocabulary); event descriptions are windows of these documents.
DOC_WORDS = ["join", "hash", "row", "batch", "scan", "customer", "column",
             "filter", "small", "slow", "merge", "order", "vector", "line",
             "data", "table", "agg", "value", "key", "stream", "window",
             "spark", "a", "part", "group", "big", "sort", "query", "fast",
             "the"]

# Event-name words, drawn Zipf-skewed so search terms have a realistic
# spread of selectivities.
NAME_WORDS = ["live", "night", "jazz", "country", "rock", "comedy", "festival",
              "music", "show", "tour", "concert", "open", "mic", "brunch",
              "market", "party", "dance", "blues", "songwriter", "round",
              "bluegrass", "gospel", "trivia", "karaoke", "theater",
              "broadway", "ballet", "symphony", "orchestra", "game",
              "football", "hockey", "soccer", "race", "fair", "fest",
              "improv", "standup", "hip", "hop", "techno", "house", "indie",
              "folk", "punk", "metal", "soul", "funk", "pop", "rap", "dj",
              "classical", "acoustic", "session", "showcase", "revival",
              "honky", "tonk", "broadway", "riverfront", "downtown",
              "eastside", "gulch", "germantown", "midtown", "hall", "fame",
              "opry", "ryman", "parthenon", "centennial", "park", "yard",
              "studio", "workshop", "tasting", "craft", "beer", "wine",
              "whiskey", "food", "truck", "farmers", "art", "crawl",
              "gallery", "film", "screening", "poetry", "slam", "drag",
              "charity", "gala", "run", "5k", "yoga", "sunset", "rooftop"]

VENUES = ["Ryman Auditorium", "Bluebird Cafe", "The Basement East",
          "Exit In", "Brooklyn Bowl", "Marathon Music Works",
          "Station Inn", "Mercy Lounge", "Cannery Hall", "3rd And Lindsley",
          "Bridgestone Arena", "Nissan Stadium", "Schermerhorn Symphony Center",
          "Tpac Jackson Hall", "Grand Ole Opry House", "City Winery",
          "The 5 Spot", "Robert's Western World", "Tootsie's", "The Listening Room"]
STREETS = ["Broadway", "Church St", "Charlotte Ave", "Gallatin Pike",
           "Music Row", "Demonbreun St", "Woodland St", "8th Ave S"]

# (spider, events per reload). The reference caps four spiders' volume
# per run (BASELINE.md): Ticketmaster 200 x 6 pages = 1 200, Yelp 1 000,
# SeatGeek 50 x 10 = 500, Google Places 20 x 6 types = 120. It publishes
# no volume for the other spiders; theirs are assumptions. The mix holds
# every Normalize.sourceDisplay spider, the manual-upload route
# (AI-extraction path: contributes no rows here), csv/document spiders
# (the "document" route) and one generic spider. Shares are the volumes'
# shares of their total.
SPIDER_VOLUME = [("ticketmaster", 1200), ("yelp", 1000), ("seatgeek", 500),
                 ("google_places", 120),
                 # assumed: no cap in the reference
                 ("nashville_arcgis", 600), ("nashville.com-events", 300),
                 ("nashville.com-hotels", 100), ("underdog", 200),
                 ("playplayground-events", 150), ("visit_music_city", 200),
                 ("csv_upload_events", 150), ("document_spider", 100),
                 ("manual_upload_flyer", 100)]
STRICT = {"ticketmaster", "seatgeek", "nashville_arcgis"}
DISPLAY = {"ticketmaster": "Ticketmaster", "seatgeek": "SeatGeek",
           "yelp": "Yelp", "google_places": "Google Places",
           "nashville_arcgis": "Nashville ArcGIS",
           "nashville.com-events": "Nashville.com Events",
           "nashville.com-hotels": "Nashville.com Hotels",
           "underdog": "Underdog",
           "playplayground-events": "Playground Events"}

# Shares of deliberately bad rows in every envelope batch.
SHARES = {"duplicate_url": 0.10, "strict_no_venue": 0.05,
          "invalid_name": 0.04, "malformed_json": 0.02, "null_url": 0.01}
INVALID_NAMES = ["N/A", "unknown", "  ", "x", "null", None]

# Share of each upload file's rows that re-scrape a url already in silver
# or in an earlier file (an assumption: the reference publishes none).
RESCRAPE_SHARE = 0.30

# dashboard request mix: (kind, requests per block of 10). Every block of
# ten consecutive requests has exactly these counts, in a seeded order, so
# a run's requests have the same shares whatever the seed. The reference
# publishes no request log; the shares are assumptions.
REQUEST_MIX = [("browse", 2), ("browse_source", 2), ("browse_source_category", 1),
               ("search", 3), ("search_zero_hit", 1), ("deep_page", 1)]
STOPWORDS = {"the", "a", "an", "of", "to", "and", "in", "is", "on", "for"}

MONTHS = ["January", "February", "March", "April", "May", "June", "July",
          "August", "September", "October", "November", "December"]


def _zipf_index(rng, n, s=1.1):
    w = 1.0 / np.arange(1, n + 1) ** s
    return rng.choice(n, p=w / w.sum())


def _py_title(s):
    out, prev = [], False
    for ch in s:
        if ch.isalpha():
            out.append(ch.lower() if prev else ch.upper())
            prev = True
        else:
            out.append(ch)
            prev = False
    return "".join(out)


def display_name(spider):
    return DISPLAY.get(spider, _py_title(spider.replace("_", " ")))


# ───────────────────────── registry tables ─────────────────────────

def registry_tables(out_dir, seed, sf, docs_only=False):
    """documents / embeddings / lineitem / orders at scale factor `sf`
    (sf 0.01 = 500 documents, 60 000 line items); only documents when
    `docs_only`. Returns the document texts."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_docs = max(50, int(round(50_000 * sf)))
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            # planted near-duplicate of an earlier document
            base = texts[int(rng.integers(0, i))]
            texts.append(base + " dup" * int(rng.integers(1, 3)))
        else:
            n = int(rng.integers(8, 90))
            texts.append(" ".join(DOC_WORDS[j] for j in rng.integers(0, len(DOC_WORDS), n)))
    langs = np.array(["en", "zh", "de", "fr", "es"])[
        rng.choice(5, n_docs, p=[0.44, 0.14, 0.14, 0.14, 0.14])]
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs.tolist()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{out_dir}/documents.parquet")
    if docs_only:
        return texts

    n_vec = n_docs
    labels = rng.integers(0, 10, n_vec).astype(np.int32)
    centers = rng.normal(0, 0.12, (10, 64))
    vecs = (centers[labels] + rng.normal(0, 0.08, (n_vec, 64))).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels)}), f"{out_dir}/embeddings.parquet")

    n_orders = max(100, int(round(1_500_000 * sf)))
    n_cust, n_part, n_supp = max(10, int(150_000 * sf)), max(20, int(200_000 * sf)), max(5, int(10_000 * sf))
    day0 = np.datetime64("1995-01-01", "us")
    odates = day0 + rng.integers(0, 2404, n_orders).astype("timedelta64[D]")
    pq.write_table(pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)].tolist()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_orders), 2)),
        "o_orderdate": pa.array(odates, pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, n_orders)].tolist())}), f"{out_dir}/orders.parquet")

    per_order = rng.integers(1, 8, n_orders)
    okeys = np.repeat(np.arange(n_orders, dtype=np.int64), per_order)
    n_li = len(okeys)
    linenos = (np.arange(n_li) - np.repeat(np.cumsum(per_order) - per_order, per_order) + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    rf = rng.integers(0, 3, n_li)
    pq.write_table(pa.table({
        "l_orderkey": pa.array(okeys),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(linenos),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rf].tolist()),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)].tolist()),
        "l_shipdate": pa.array(np.repeat(odates, per_order) +
                               rng.integers(1, 122, n_li).astype("timedelta64[D]"), pa.timestamp("us"))}),
        f"{out_dir}/lineitem.parquet")
    return texts


# ───────────────────────── bronze envelopes ─────────────────────────

class EnvelopeGen:
    """Builds bronze rows and tracks, per row, whether a correct
    normalize + dedup keeps it."""

    def __init__(self, seed, texts, stream):
        self.rng = np.random.default_rng([seed, stream])
        self.texts = texts
        self.serial = 0
        spiders, volumes = zip(*SPIDER_VOLUME)
        self.spiders, self.shares = list(spiders), np.array(volumes) / sum(volumes)

    def _date(self, spider):
        r = self.rng
        m, d, h = int(r.integers(1, 13)), int(r.integers(1, 29)), int(r.integers(1, 12))
        if r.random() < 0.04:
            return None
        if spider in ("ticketmaster", "seatgeek"):
            sep = " " if r.random() < 0.5 else "T"
            return f"2025-{m:02d}-{d:02d}{sep}{h + 12:02d}:00:00"
        if spider.startswith("nashville.com"):
            return (f"{MONTHS[m - 1]} {d} @ {h}:30 pm" if r.random() < 0.6
                    else f"{MONTHS[m - 1]} {d} @ {h} pm")
        if spider == "underdog":
            tz = ["CDT", "CST", "EDT", "EST"][int(r.integers(0, 4))]
            return (f"{MONTHS[m - 1]} {d}, 2025 | {h}:00PM {tz}" if r.random() < 0.6
                    else f"{MONTHS[m - 1]} {d}, 2025 | {h}PM {tz}")
        # yelp (nulled), passthrough sources, and unparseable text
        return f"2025-{m:02d}-{d:02d}" if r.random() < 0.8 else "TBA"

    def _description(self):
        words = self.texts[int(self.rng.integers(0, len(self.texts)))].split()
        n = int(self.rng.integers(5, 25))
        start = int(self.rng.integers(0, max(1, len(words) - n)))
        return " ".join(words[start:start + n])

    def row(self, row_id, url):
        """One envelope. Returns (envelope dict, kept by normalize, url,
        source display name)."""
        r = self.rng
        spider = self.spiders[int(r.choice(len(self.spiders), p=self.shares))]
        self.serial += 1
        words = [NAME_WORDS[_zipf_index(r, len(NAME_WORDS))] for _ in range(int(r.integers(2, 5)))]
        name = " ".join(words) + f" {self.serial}"
        item = {"name": name, "url": url,
                "description": self._description(),
                "venue_name": VENUES[int(r.integers(0, len(VENUES)))] + (" Hall" if r.random() < 0.1 else ""),
                "venue_address": f"{int(r.integers(1, 3000))} {STREETS[int(r.integers(0, len(STREETS)))]}",
                "event_date": self._date(spider),
                "latitude": f"{36.0 + r.random() * 0.3:.5f}",
                "longitude": f"{-86.9 + r.random() * 0.3:.5f}"}
        if spider in ("ticketmaster", "seatgeek") and r.random() < 0.5:
            item["category"] = ["music", "sports", "theater", "comedy"][int(r.integers(0, 4))]
        if r.random() < 0.3:
            item["venue_city"] = "Nashville"
        kept = spider != "manual_upload_flyer"
        raw = None
        u = r.random()
        if u < SHARES["malformed_json"]:
            # unquoted key: the parser fails on the first token, so no
            # partial record can survive
            raw, kept = "{" + name + ", " + url, False
        elif u < SHARES["malformed_json"] + SHARES["invalid_name"]:
            bad = INVALID_NAMES[int(r.integers(0, len(INVALID_NAMES)))]
            if bad is None:
                item.pop("name")
            else:
                item["name"] = bad
            kept = False
        elif u < SHARES["malformed_json"] + SHARES["invalid_name"] + SHARES["strict_no_venue"]:
            item.pop("venue_name")
            kept = kept and spider not in STRICT
        elif u < (SHARES["malformed_json"] + SHARES["invalid_name"] +
                  SHARES["strict_no_venue"] + SHARES["null_url"]):
            item.pop("url")
            url = None
        if raw is None:
            raw = json.dumps({k: v for k, v in item.items() if v is not None})
        return ({"id": row_id, "source_spider": spider, "raw_json": raw},
                kept, url, display_name(spider))


def _envelopes(gen, first_id, n, old_urls, dup_share, url_prefix):
    """n rows; a `dup_share` of them reuse a url from `old_urls` (earlier
    rows of this batch or an earlier load)."""
    rows, meta = [], []
    for i in range(n):
        if old_urls and gen.rng.random() < dup_share:
            url = old_urls[int(gen.rng.integers(0, len(old_urls)))]
        else:
            url = f"https://{url_prefix}.example/e/{first_id + i}"
        env, kept, url, src = gen.row(first_id + i, url)
        rows.append(env)
        meta.append((kept, url, src))
        if url is not None:
            old_urls.append(url)
    return rows, meta


def _load(meta, loaded):
    """Simulates normalize -> first-wins (by id) -> anti-join on `loaded`.
    Returns (normalized, appended-per-source dict)."""
    normalized, per_source = 0, {}
    for kept, url, src in meta:
        if not kept:
            continue
        normalized += 1
        if url is None or url in loaded:
            continue
        loaded.add(url)
        per_source[src] = per_source.get(src, 0) + 1
    return normalized, per_source


def _write_bronze(path, rows, files=4):
    """The bronze table as a directory of `files` parquet files (one scan
    task each), as a table written by a parallel loader looks."""
    os.makedirs(path, exist_ok=True)
    per = -(-len(rows) // files)
    for i in range(files):
        part = rows[i * per:(i + 1) * per]
        pq.write_table(pa.table({
            "id": pa.array([r["id"] for r in part], pa.int64()),
            "source_spider": pa.array([r["source_spider"] for r in part], pa.string()),
            "raw_json": pa.array([r["raw_json"] for r in part], pa.string())}),
            f"{path}/part-{i:03d}.parquet")


def query_terms(search):
    return [t for t in re.split(r"[^0-9a-z]+", (search or "").lower())
            if len(t) > 1 and t not in STOPWORDS]


def request_mix(seed, n, sources):
    rng = np.random.default_rng([seed, 4])
    block = [k for k, count in REQUEST_MIX for _ in range(count)]
    reqs = []
    while len(reqs) < n:
        for k in rng.permutation(block):
            q = {"kind": str(k), "page": 1}
            if k in ("browse_source", "browse_source_category"):
                q["source"] = sources[int(rng.integers(0, len(sources)))]
            if k == "browse_source_category":
                q["category_index"] = int(rng.integers(0, 5))
            if k == "search":
                terms = {NAME_WORDS[_zipf_index(rng, len(NAME_WORDS))]
                         for _ in range(int(rng.integers(1, 3)))}
                q["search"] = " ".join(sorted(terms))
                q["page"] = int(rng.integers(1, 3))
            if k == "search_zero_hit":
                q["search"] = "zqxv" + str(int(rng.integers(0, 1000)))
            if k == "deep_page":
                q["page"] = int(rng.integers(20, 80))
            reqs.append(q)
    return reqs[:n]


def generate(out_dir, workload, seed, params):
    """Writes the inputs of `workload` into `out_dir` and returns truth."""
    os.makedirs(out_dir, exist_ok=True)
    tables = os.path.join(out_dir, "tables")
    texts = registry_tables(tables, seed, params["registry_sf"] if workload == "registry_mix"
                            else params["doc_sf"], docs_only=workload != "registry_mix")
    truth = {"workload": workload, "seed": seed}
    if workload == "dashboard":
        # silver seeded by the batch reload of a bronze envelope, then
        # upload files drained into it by the stream
        gen = EnvelopeGen(seed, texts, 3)
        seen = []
        rows, meta = _envelopes(gen, 0, params["seed_rows"], seen, SHARES["duplicate_url"], "s")
        _write_bronze(f"{out_dir}/bronze.parquet", rows)
        loaded = set()
        _, per_source = _load(meta, loaded)
        truth.update(silver_rows=len(loaded), silver_per_source=per_source)
        up = os.path.join(out_dir, "uploads")
        os.makedirs(up, exist_ok=True)
        next_id, valid_batch_rows = params["seed_rows"], 0
        for f in range(params["upload_files"]):
            frows, fmeta = _envelopes(gen, next_id, params["upload_file_rows"], seen,
                                      RESCRAPE_SHARE, f"u{f}")
            next_id += len(frows)
            with open(f"{up}/upload_{f:03d}.jsonl", "w") as fh:
                for r in frows:
                    fh.write(json.dumps(r) + "\n")
            # rows that reach the anti-join: kept, url set, first of their
            # url within the file
            valid_batch_rows += len({url for kept, url, _ in fmeta if kept and url is not None})
            _load(fmeta, loaded)
        appended = len(loaded) - truth["silver_rows"]
        truth.update(final_distinct_urls=len(loaded), rows_appended=appended,
                     rows_already_loaded=valid_batch_rows - appended)
        sources = sorted({display_name(s) for s, _ in SPIDER_VOLUME if s != "manual_upload_flyer"})
        with open(f"{out_dir}/requests.json", "w") as fh:
            json.dump(request_mix(seed, params["dash_requests"], sources), fh)
    with open(f"{out_dir}/truth.json", "w") as fh:
        json.dump(truth, fh, sort_keys=True)
    return truth
