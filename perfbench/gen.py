"""Seeded input generators for the benchmark.

The program under test only ever sees the files written here; every byte is
a function of the seed and the requested sizes.

* `corpus` writes `documents.parquet` and `events.parquet` in the shape of
  the engine's testdata tables: word-bag documents over a 30-word vocabulary
  (10-100 words, ~5% near-duplicates made by appending " dup" to an earlier
  document's text, a few exact duplicates, source = src{doc_id % 20}) and a
  click stream (time-ordered microsecond timestamps over 30 days, one user
  per ~67 events, exponential values, and 100 items named in `props` that
  each user visits by a walk over a fixed successor graph).
* `playstore` writes a Play Store CSV and a user-reviews CSV that carry the
  edge cases of the reference inputs, and returns the facts the output check
  needs (distinct apps, best-apps ratings in order, per-genre app counts).
"""
import datetime
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "big join hash order sort scan filter group agg row key line part "
         "customer query batch fast slow the a").split()
N_ITEMS = 100
# Seed of the fixed successor table. Over random click streams graph_scc
# needed 11-17 driver actions; this table's graph needs 13.
GRAPH_PLAN_SEED = 5
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "en", "en", "en", "de", "es", "fr", "zh", "es", "fr"]


def corpus(seed, out_dir, n_docs, n_events):
    rng = random.Random(seed * 7919 + 1)
    texts = []
    for i in range(n_docs):
        r = rng.random()
        if i > 0 and r < 0.05:
            texts.append(texts[rng.randrange(i)] + " dup")
        elif i > 0 and r < 0.052:
            texts.append(texts[rng.randrange(i)])
        else:
            texts.append(" ".join(rng.choice(VOCAB)
                                  for _ in range(rng.randint(10, 100))))
    docs = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([rng.choice(LANGS) for _ in range(n_docs)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    start = datetime.datetime(2024, 1, 1)
    span_us = 30 * 86400 * 10**6
    stamps = sorted(rng.randrange(span_us) for _ in range(n_events))
    n_users = max(15, n_events // 67)
    users = [rng.randrange(n_users) for _ in range(n_events)]
    # Each user walks the item graph: 70% of steps follow one of the item's
    # two fixed successors, the rest jump to a random item. The successor
    # table is the same for every seed, so the graph's strongly connected
    # structure (and with it the work of the graph loops) is a fixed part
    # of the workload, while who clicks what and when follows the seed.
    plan = random.Random(GRAPH_PLAN_SEED)
    successors = [plan.sample([j for j in range(N_ITEMS) if j != i], 2)
                  for i in range(N_ITEMS)]
    at, items = {}, []
    for u in users:
        cur = at.get(u)
        if cur is None or rng.random() < 0.3:
            cur = rng.randrange(N_ITEMS)
        else:
            cur = rng.choice(successors[cur])
        at[u] = cur
        items.append(cur)
    events = pa.table({
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": pa.array([start + datetime.timedelta(microseconds=t) for t in stamps],
                       pa.timestamp("us")),
        "user_id": pa.array(users, pa.int64()),
        "event_type": pa.array([rng.choice(EVENT_TYPES) for _ in range(n_events)], pa.string()),
        "value": pa.array([round(rng.expovariate(1 / 50.0), 2) for _ in range(n_events)],
                          pa.float64()),
        "props": pa.array([f'{{"k": {i}}}' for i in items], pa.string()),
    })
    os.makedirs(out_dir, exist_ok=True)
    facts = {}
    for name, table in (("documents", docs), ("events", events)):
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        facts[f"{name}_rows"] = table.num_rows
        facts[f"{name}_bytes"] = os.path.getsize(path)
    return facts


GENRES = ["Art & Design", "Auto & Vehicles", "Beauty", "Books & Reference",
          "Business", "Comics", "Communication", "Dating", "Education",
          "Entertainment", "Events", "Finance", "Food & Drink",
          "Health & Fitness", "House & Home", "Libraries & Demo", "Lifestyle",
          "Maps & Navigation", "Medical", "Music & Audio", "News & Magazines",
          "Parenting", "Personalization", "Photography", "Productivity",
          "Shopping", "Social", "Sports", "Tools", "Travel & Local",
          "Video Players & Editors", "Weather", "Action", "Arcade", "Puzzle",
          "Casual", "Simulation", "Strategy", "Racing", "Pretend Play"]
CATEGORIES = ["ART_AND_DESIGN", "BUSINESS", "COMMUNICATION", "EDUCATION",
              "FAMILY", "FINANCE", "GAME", "HEALTH_AND_FITNESS", "LIFESTYLE",
              "MEDICAL", "PHOTOGRAPHY", "PRODUCTIVITY", "SOCIAL", "SPORTS",
              "TOOLS", "TRAVEL_AND_LOCAL"]
INSTALLS = ["100+", "500+", "1,000+", "5,000+", "10,000+", "50,000+",
            "100,000+", "500,000+", "1,000,000+", "10,000,000+"]
CONTENT = ["Everyone", "Everyone 10+", "Teen", "Mature 17+"]
MONTHS = ["January", "February", "March", "April", "May", "June", "July",
          "August", "September", "October", "November", "December"]
HEADER = ["App", "Category", "Rating", "Reviews", "Size", "Installs", "Type",
          "Price", "Content Rating", "Genres", "Last Updated", "Current Ver",
          "Android Ver"]

# Verbatim rows of the reference store file. Their parse under Spark's
# default CSV options is fixed, so their effect on the outputs is too:
# (App, Rating string, Genres after the split).
MALFORMED_ROW = ('Life Made WI-Fi Touchscreen Photo Frame,1.9,19,3.0M,"1,000+",'
                 'Free,0,Everyone,,"February 11, 2018",1.0.19,4.0 and up')
MALFORMED_PARSE = ("Life Made WI-Fi Touchscreen Photo Frame", "19",
                   ["February 11, 2018"])
QUOTED_ROW = ('"""i DT"" Fútbol. Todos Somos Técnicos.",SPORTS,NaN,27,3.6M,500+,'
              'Free,0,Everyone,Sports,"October 7, 2017",0.22,4.1 and up')
QUOTED_PARSE = ('"""i DT"" Fútbol. Todos Somos Técnicos."', "NaN", ["Sports"])


def _doubled_quote_row(rng, i):
    """A `"Women""s Health Tips(Breast,Face,...)"` style row: the doubled
    quote ends the quoted field early, so its commas split it and every
    later field shifts right by three. The App becomes the text up to the
    first inner comma, the Rating a word, and the Genres column holds
    `Free` (the junk genre of the reference outputs)."""
    w = [rng.choice(VOCAB).capitalize() for _ in range(5)]
    app = f'"{w[0]}{i}""s {w[1]} Tips({w[2]}'
    line = (f'"{w[0]}{i}""s {w[1]} Tips({w[2]},{w[3]},{w[4]},weight lose)",'
            'HEALTH_AND_FITNESS,3.8,23,2.9M,"10,000+",Free,0,Everyone,'
            'Health & Fitness,"July 16, 2018",1.0,4.0 and up')
    return line, (app, w[4], ["Free"])


def _field(v):
    return f'"{v}"' if "," in v else v


def playstore(seed, out_dir, store_rows, review_rows):
    """Writes googleplaystore.csv with `store_rows` data rows and
    user_reviews.csv with `review_rows` data rows; returns the facts the
    output check compares against."""
    rng = random.Random(seed * 104729 + 3)
    lines = []
    parsed = []  # (App, Rating string, Genres list) per data row
    n_special = 8  # the verbatim and doubled-quote rows appended below
    i = 0
    while len(lines) < store_rows - n_special:
        i += 1
        app = f"{rng.choice(VOCAB).capitalize()} {rng.choice(VOCAB)} app {i}"
        genres = [rng.choice(GENRES)]
        if rng.random() < 0.05:
            genres.append(rng.choice([g for g in GENRES if g != genres[0]]))
        rating = "NaN" if rng.random() < 0.14 else f"{rng.triangular(1.0, 5.0, 4.4):.1f}"
        size_r = rng.random()
        if size_r < 0.15:
            size = "Varies with device"
        elif size_r < 0.18:
            size = f"{rng.randint(8, 999)}k"
        else:
            size = f"{rng.randint(1, 99)}{rng.choice(['', '.5', '.1'])}M"
        paid = rng.random() < 0.07
        price = f"${rng.randint(0, 29)}.99" if paid else "0"
        date = f"{rng.choice(MONTHS)} {rng.randint(1, 28)}, {rng.randint(2012, 2018)}"
        version = "Varies with device" if rng.random() < 0.1 else \
            f"{rng.randint(1, 9)}.{rng.randint(0, 20)}.{rng.randint(0, 9)}"
        android = "Varies with device" if rng.random() < 0.1 else \
            f"{rng.choice(['4.0.3', '4.1', '4.4', '5.0'])} and up"
        copies = 1 if rng.random() < 0.88 else rng.randint(2, 4)
        copies = min(copies, store_rows - n_special - len(lines))
        for _ in range(copies):
            fields = [app, rng.choice(CATEGORIES), rating, str(rng.randint(0, 90000)),
                      size, rng.choice(INSTALLS), "Paid" if paid else "Free", price,
                      rng.choice(CONTENT), ";".join(genres), date, version, android]
            lines.append(",".join(_field(f) for f in fields))
            parsed.append((app, rating, genres))
    lines.append(MALFORMED_ROW)
    parsed.append(MALFORMED_PARSE)
    lines.append(QUOTED_ROW)
    parsed.append(QUOTED_PARSE)
    for i in range(6):
        line, p = _doubled_quote_row(rng, i)
        lines.append(line)
        parsed.append(p)
    order = list(range(len(lines)))
    rng.shuffle(order)

    # reviews: each row names an app drawn from a tenth of the store's apps
    # plus unmatched ones, as in the reference file, where ~11% of the apps
    # carry all reviews. A `nan` row poisons its app's average to NaN (then
    # 0.0). Polarities are k/8 so every sum is exact and the expected
    # averages are bit-exact.
    store_apps = sorted({p[0] for p in parsed if not p[0].startswith('"')})
    reviewed = rng.sample(store_apps, max(1, len(store_apps) // 10))
    reviewed += [f"Unmatched app {i}" for i in range(max(1, len(store_apps) // 100))]
    all_nan = {app for app in reviewed if rng.random() < 0.05}
    polarity = [x for x in range(-8, 9) if x != 0]
    review_lines = []
    ks, poisoned = {}, set()
    for _ in range(review_rows):
        app = rng.choice(reviewed)
        ks.setdefault(app, [])
        if app in all_nan or rng.random() < 0.08:
            review_lines.append(f"{app},nan,nan,nan,nan")
            poisoned.add(app)
        else:
            k = rng.choice(polarity)
            sentiment = "Positive" if k > 0 else "Negative"
            review_lines.append(f"{app},{rng.choice(VOCAB)} {rng.choice(VOCAB)},"
                                f"{sentiment},{k / 8},{rng.randint(1, 9) / 10}")
            ks[app].append(k)
    expected_avg = {app: 0.0 if app in poisoned else (sum(k) / 8) / len(k)
                    for app, k in ks.items()}

    os.makedirs(out_dir, exist_ok=True)
    store_path = os.path.join(out_dir, "googleplaystore.csv")
    with open(store_path, "w", encoding="utf-8", newline="\n") as f:
        f.write(",".join(HEADER) + "\n")
        for i in order:
            f.write(lines[i] + "\n")
    reviews_path = os.path.join(out_dir, "user_reviews.csv")
    with open(reviews_path, "w", encoding="utf-8", newline="\n") as f:
        f.write("App,Translated_Review,Sentiment,Sentiment_Polarity,"
                "Sentiment_Subjectivity\n")
        f.write("\n".join(review_lines) + "\n")

    def passes_filter(r):
        try:
            v = float(r)
        except ValueError:
            return False
        return not math.isnan(v) and v >= 4.0

    genres_by_app = {}
    for app, _, genres in parsed:
        genres_by_app[app] = max(genres_by_app.get(app, genres), genres)
    genre_counts = {}
    for genres in genres_by_app.values():
        for g in genres:
            genre_counts[g] = genre_counts.get(g, 0) + 1
    return {
        "store_rows": len(lines),
        "store_bytes": os.path.getsize(store_path),
        "reviews_rows": len(review_lines),
        "reviews_bytes": os.path.getsize(reviews_path),
        "distinct_apps": len(genres_by_app),
        "best_ratings": sorted((r for _, r, _ in parsed if passes_filter(r)), reverse=True),
        "sentiment": expected_avg,
        "matched_apps": len(set(expected_avg) & set(genres_by_app)),
        "genre_counts": genre_counts,
    }
