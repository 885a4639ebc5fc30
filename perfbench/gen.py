"""Seeded input generators and their ground truth.

Every input the benchmark feeds the program is written here, from the
workload seed alone: the same seed gives byte-identical files, another
seed gives different ones (see test_gen.py). Alongside the inputs each
generator writes `truth.json`, the outcome a correct program must
produce, so the checks never trust the program under test.

weather (daily_etl)
    One JSON-lines file per day of raw OpenWeatherMap-style documents,
    one per station: the reference's daily run fetches the current
    weather of each configured city once (20 cities in its shipped
    config, see BASELINE.md). Each day the generator plants one
    duplicate delivery, one reading with a missing temperature, one
    outlier the validation stage drops, and two late corrections to
    valid readings up to a week old. The reference publishes no error
    rates; these counts are chosen so every cleaning path and the
    upsert's merge of older partitions run every day while the
    reference quality gate (retention >= 0.80) passes with margin.
    Temperatures and wind speeds are multiples of 0.5, so every sum the
    views take is exact in binary floating point and Spark and DuckDB
    agree bit for bit whatever order they add in.

corpus (corpus_dedup)
    A standing corpus for `DedupIndex.build` and one document batch per
    day, sized as the repo's own `dedup_incremental_indexed` bench row
    runs at sf0.1: an index over 4 000 documents, batches of 1 000. The
    planted counts (20 + 20 + 20 + 10 per batch) are not from any
    measured corpus; they give every check cases in every batch.
    Batches plant exact duplicates (case and surrounding-whitespace
    variants) within the batch and against the index, near-duplicates
    (one word replaced, Jaccard of word 3-grams far above 0.5) against
    the index, near-duplicate pairs inside a batch (which the
    batch-vs-index contract keeps) and unique documents. A boilerplate
    phrase in a third of the documents pushes its grams past the
    index's document-frequency cap, so the `hot/` table is non-empty.
"""
import datetime as dt
import itertools
import json
import os
import random

# ---------------------------------------------------------------- weather

EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
STATIONS = 20       # cities fetched per daily run (the reference's shipped list)
HOUR = 6            # the reference DAG runs daily at 06:00 UTC
DUPS = 1            # deliveries repeated byte-identically, per day
NULLS = 1           # readings with a missing temperature -> dropped as null-critical
OUTLIERS = 1        # readings at 75.0 degrees -> dropped by validation
CORRECTIONS = 2     # valid readings of the last week re-delivered changed, per day
CORR_WINDOW = 7     # corrections reach back at most this many days
DESCRIPTIONS = [("Clear", "clear sky", 800), ("Clouds", "few clouds", 801),
                ("Clouds", "broken clouds", 803), ("Rain", "light rain", 500),
                ("Rain", "moderate rain", 501), ("Mist", "mist", 701),
                ("Snow", "light snow", 600)]
SYL = ["ar", "bel", "cor", "dun", "el", "fen", "gar", "hol", "is", "jor",
       "kal", "lin", "mor", "nor", "ost", "pel", "quin", "ros", "sal", "tor",
       "ul", "ven", "wes", "yor"]


def station_names():
    """20 distinct title-case (city, country) pairs, fixed across seeds so
    the initcap/upper clean stage leaves keys unchanged."""
    r = random.Random(1234)
    names = set()
    while len(names) < STATIONS:
        names.add((r.choice(SYL) + r.choice(SYL) + r.choice(SYL)).capitalize())
    countries = ["GB", "US", "JP", "FR", "AU", "DE", "BR", "IN", "EG", "CA"]
    return [(n, countries[i % len(countries)]) for i, n in enumerate(sorted(names))]


def _half(x):
    """Nearest multiple of 0.5 (exactly representable)."""
    return round(x * 2) / 2.0


def _fmt(x):
    return repr(float(x))


def _doc(st, ts, r):
    """One raw API document as a JSON line (stable key order)."""
    city, country, lat, lon = st["city"], st["country"], st["lat"], st["lon"]
    main, desc, wid = r["desc"]
    temp = "null" if r["temp"] is None else _fmt(r["temp"])
    return ('{"coord":{"lon":%s,"lat":%s},"weather":[{"id":%d,"main":"%s",'
            '"description":"%s","icon":"01d"}],"main":{"temp":%s,'
            '"feels_like":%s,"temp_min":%s,"temp_max":%s,"pressure":%d,'
            '"humidity":%d},"visibility":%d,"wind":{"speed":%s,"deg":%d},'
            '"clouds":{"all":%d},"dt":%d,"sys":{"country":"%s","sunrise":%d,'
            '"sunset":%d},"name":"%s"}') % (
        _fmt(lon), _fmt(lat), wid, main, desc, temp, _fmt(r["feels"]),
        _fmt(r["feels"] - 1.0), _fmt(r["feels"] + 1.0), r["pressure"],
        r["humidity"], r["vis"], _fmt(r["wind"]), r["deg"], r["clouds"], ts,
        country, ts - ts % 86400 + 6 * 3600, ts - ts % 86400 + 18 * 3600, city)


def gen_weather(out_dir, seed, days, first_corrected):
    """Write raw/dNNNN.jsonl for `days` days plus truth.json.

    Days before `first_corrected` carry no late corrections: they are
    loaded as one bulk batch, and a batch must not hold two different
    readings of one key.

    truth.json holds, per day, the rows delivered valid (key, temperature,
    humidity, pressure) — the latest valid delivery of a key is its
    expected value after that day — and the number of raw lines.
    """
    rnd = random.Random(seed * 7919 + 1)
    stations = []
    for city, country in station_names():
        stations.append({"city": city, "country": country,
                         "lat": round(rnd.uniform(-60, 60), 4),
                         "lon": round(rnd.uniform(-170, 170), 4),
                         "base": rnd.uniform(-5, 25)})
    os.makedirs(os.path.join(out_dir, "raw"), exist_ok=True)
    current = {}   # key -> reading dict of the latest valid delivery
    per_day = []
    for d in range(days):
        day0 = int((EPOCH + dt.timedelta(days=d)).timestamp())
        ts = day0 + HOUR * 3600
        lines, valid = [], []
        poisoned = rnd.sample(range(STATIONS), NULLS + OUTLIERS)
        for si, st in enumerate(stations):
            temp = _half(st["base"] + 8 * ((d % 90) / 90.0 - 0.5) + rnd.gauss(0, 2))
            temp = max(-30.0, min(44.0, temp))
            r = {"temp": temp, "feels": _half(temp - rnd.choice([0, 1, 2])),
                 "humidity": rnd.randint(20, 100),
                 "pressure": rnd.randint(980, 1040),
                 "wind": _half(rnd.uniform(0, 20)), "deg": rnd.randint(0, 359),
                 "clouds": rnd.randint(0, 100),
                 "vis": rnd.choice([10000, 8000, 6000, 4000]),
                 "desc": rnd.choice(DESCRIPTIONS)}
            if si in poisoned[:NULLS]:
                r["temp"] = None
            elif si in poisoned[NULLS:]:
                r["temp"] = 75.0
            lines.append(_doc(st, ts, r))
            if r["temp"] is not None and r["temp"] <= 60:
                valid.append((si, ts, r))
        lines.extend(rnd.sample(lines, DUPS))
        # late corrections: re-deliver valid readings of the last week
        # with a changed temperature; each key at most once per day
        if d >= first_corrected:
            pool = sorted(k for k in current
                          if day0 - CORR_WINDOW * 86400 <= k[1] < day0)
            for key in rnd.sample(pool, min(CORRECTIONS, len(pool))):
                si, ts = key
                r = dict(current[key])
                r["temp"] = _half(r["temp"] + rnd.choice([-3.5, -2, -1, 1, 1.5, 3]))
                r["temp"] = max(-30.0, min(44.0, r["temp"]))
                lines.append(_doc(stations[si], ts, r))
                valid.append((si, ts, r))
        rnd.shuffle(lines)
        with open(os.path.join(out_dir, "raw", "d%04d.jsonl" % d), "w") as f:
            f.write("\n".join(lines) + "\n")
        for si, ts, r in valid:
            current[(si, ts)] = r
        per_day.append({
            "day": (EPOCH + dt.timedelta(days=d)).strftime("%Y-%m-%d"),
            "raw_lines": len(lines),
            "raw_bytes": sum(len(x) + 1 for x in lines),
            "valid": [[stations[si]["city"], stations[si]["country"], ts,
                       r["temp"], r["humidity"], r["pressure"]]
                      for si, ts, r in valid]})
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump({"stations": [[s["city"], s["country"]] for s in stations],
                   "history": first_corrected, "days": per_day}, f,
                  separators=(",", ":"))
    # what the JVM side reads: day files with their line counts (the
    # ingest step's record count) and the bulk-history length
    with open(os.path.join(out_dir, "days.tsv"), "w") as f:
        f.writelines("d%04d.jsonl\t%d\n" % (i, day["raw_lines"])
                     for i, day in enumerate(per_day))
    with open(os.path.join(out_dir, "history.txt"), "w") as f:
        f.write("%d\n" % first_corrected)


def expected_table(truth, n_days):
    """key (city, country, epoch s) -> (temperature, humidity, pressure)
    after the first n_days days: the latest valid delivery wins."""
    t = {}
    for day in truth["days"][:n_days]:
        for city, country, ts, temp, hum, pres in day["valid"]:
            t[(city, country, ts)] = (temp, hum, pres)
    return t


# ----------------------------------------------------------------- corpus

VOCAB = 4000
BOILER = "please subscribe to our newsletter for daily weather updates".split()
N_CORPUS = 4000     # dedup_incremental_indexed at sf0.1: 4/5 of 5 000 documents
BATCH = 1000        # ... and the other 1/5 as the batch


def _vocab(r):
    """Pronounceable lowercase words, distinct."""
    words, seen = [], set()
    while len(words) < VOCAB:
        w = "".join(r.choice(SYL) for _ in range(r.randint(1, 3)))
        if w not in seen and w not in BOILER:
            seen.add(w)
            words.append(w)
    return words


class _Words:
    def __init__(self, r):
        self.r = r
        self.vocab = _vocab(r)
        self.cum = list(itertools.accumulate(
            1.0 / (i + 1) ** 1.05 for i in range(VOCAB)))

    def doc(self):
        r = self.r
        ws = r.choices(self.vocab, cum_weights=self.cum, k=r.randint(50, 90))
        if r.random() < 0.35:
            ws = BOILER + ws if r.random() < 0.5 else ws + BOILER
        return ws



def _exact_variant(r, text):
    # the fingerprint normalizes lower(trim(text)); trim strips spaces
    v = r.choice([text.upper(), text.title(), text.capitalize()])
    return r.choice(["  ", " ", ""]) + v + r.choice([" ", "  ", ""])


def _near_variant(r, words, vocab):
    ws = list(words)
    i = r.randrange(len(ws))
    while True:
        w = r.choice(vocab)
        if w != ws[i]:
            ws[i] = w
            return " ".join(ws)


def gen_corpus(out_dir, seed, batches):
    """Write corpus.parquet, batches/bNNNN.parquet and truth.json.

    truth.json lists, per batch, the planted documents that must be
    removed (exact duplicates), those that should be removed
    (near-duplicates of indexed documents — they count toward recall)
    and those that must stay.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq
    r = random.Random(seed * 104729 + 3)
    words = _Words(r)
    corpus = [(i + 1, " ".join(words.doc())) for i in range(N_CORPUS)]
    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])

    def write(path, rows):
        pq.write_table(pa.table({"doc_id": [d for d, _ in rows],
                                 "text": [t for _, t in rows]}, schema=schema),
                       path, compression="snappy")

    os.makedirs(os.path.join(out_dir, "batches"), exist_ok=True)
    write(os.path.join(out_dir, "corpus.parquet"), corpus)
    indexed = [t for _, t in corpus]   # texts the index holds
    truth = []
    for b in range(batches):
        base = 10_000_000 + b * 10_000
        rows, must_go, should_go, must_stay = [], [], [], []
        nid = [base]

        def add(text):
            nid[0] += 1
            rows.append((nid[0], text))
            return nid[0]

        uniques = []
        for _ in range(BATCH - 80):
            ws = words.doc()
            uniques.append((add(" ".join(ws)), ws))
        for _ in range(20):   # exact duplicate of an indexed document
            must_go.append(add(_exact_variant(r, r.choice(indexed))))
        for _ in range(20):   # near-duplicate of an indexed document
            src = r.choice(indexed).split(" ")
            should_go.append(add(_near_variant(r, src, words.vocab)))
        for _ in range(20):   # exact duplicate of an earlier batch doc
            _, ws = r.choice(uniques)
            must_go.append(add(_exact_variant(r, " ".join(ws))))
        for _ in range(10):   # near-duplicate pair inside the batch: kept
            _, ws = r.choice(uniques)
            must_stay.append(add(_near_variant(r, ws, words.vocab)))
        for _ in range(10):   # more uniques after the planted ids
            ws = words.doc()
            uniques.append((add(" ".join(ws)), ws))
        must_stay.extend(i for i, _ in uniques)
        order = list(range(len(rows)))
        r.shuffle(order)
        write(os.path.join(out_dir, "batches", "b%04d.parquet" % b),
              [rows[i] for i in order])
        stay = set(must_stay)
        indexed.extend(t for i, t in rows if i in stay)
        truth.append({"batch": b, "docs": len(rows), "must_go": must_go,
                      "should_go": should_go, "must_stay": sorted(must_stay)})
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump({"corpus_docs": N_CORPUS, "batches": truth}, f,
                  separators=(",", ":"))
