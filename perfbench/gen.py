"""Seeded input generators for the four perfbench workloads.

Each generator takes the seed as an argument, writes the workload's input
files plus a ``truth.json`` ground-truth file under ``out``, and returns
the input row count. The same seed always gives byte-identical files;
graft only ever reads what is written here.
"""

import json
import os
import random

# The 22 counties of the county-centroid table, 臺 spelling, with a
# Zipf-like weight (rank r gets 1/r).
COUNTIES = ["臺北市", "新北市", "桃園市", "臺中市", "臺南市", "高雄市", "新竹市",
            "新竹縣", "苗栗縣", "彰化縣", "南投縣", "雲林縣", "嘉義市", "嘉義縣",
            "屏東縣", "宜蘭縣", "花蓮縣", "臺東縣", "澎湖縣", "金門縣", "連江縣",
            "基隆市"]
COUNTY_WEIGHTS = [1.0 / (r + 1) for r in range(len(COUNTIES))]
DISTRICTS = ["中正區", "信義區", "大安區", "中山區", "東區", "北區", "西區", "南區",
             "前鎮區", "新興區", "三民區", "板橋區"]
ROADS = ["中山路", "民生路", "和平東路", "復興北路", "忠孝東路", "仁愛路", "光復路",
         "建國路", "成功路", "自由路", "民族路", "中華路", "文化路", "信義路", "三民路",
         "長春路", "南京東路", "健康路", "育英街", "公園路", "博愛街", "永康街"]
ZH_DIGITS = "一二三四五六七八九"
ORG_WORDS = ["仁心", "安康", "博愛", "慈濟", "永和", "長青", "康寧", "健安", "德春", "惠民"]
ORG_KINDS = ["診所", "小兒科診所", "家醫科診所", "醫院", "衛生所"]

PAGE_ROWS = 100
SENTINEL = "無"


def _rng(workload, seed):
    return random.Random(f"{workload}:{seed}")


def _write_json(path, obj):
    with open(path, "w", encoding="utf-8") as f:
        json.dump(obj, f, ensure_ascii=False, sort_keys=True, separators=(",", ":"))


def _write_jsonl(path, rows):
    with open(path, "w", encoding="utf-8") as f:
        for r in rows:
            f.write(json.dumps(r, ensure_ascii=False, sort_keys=True, separators=(",", ":")))
            f.write("\n")


def address(rng, county):
    """A Taiwanese address covering the geocode ladder's branches:
    台/臺 spelling, Chinese or Arabic 段, 巷/弄, hyphen house numbers and
    composite (；-joined) segments."""
    c = county.replace("臺", "台") if rng.random() < 0.3 else county
    s = c + rng.choice(DISTRICTS) + rng.choice(ROADS)
    r = rng.random()
    if r < 0.2:
        s += ZH_DIGITS[rng.randrange(5)] + "段"
    elif r < 0.35:
        s += f"{rng.randint(1, 5)}段"
    if rng.random() < 0.3:
        s += f"{rng.randint(1, 300)}巷"
        if rng.random() < 0.4:
            s += f"{rng.randint(1, 20)}弄"
    s += str(rng.randint(1, 999))
    if rng.random() < 0.1:
        s += f"-{rng.randint(1, 9)}"
    s += "號"
    if rng.random() < 0.05:
        s += "；" + rng.choice(ROADS) + f"{rng.randint(1, 99)}號"
    return s


# ---------------------------------------------------------------- daily_refresh

def _clinic(rng, cid):
    county = rng.choices(COUNTIES, COUNTY_WEIGHTS)[0]
    tag = "".join(rng.choice("abcdefghjkmnpqrstuvwxyz") for _ in range(4))
    return {
        "id": f"C{cid:07d}",
        "county": county,
        "org": rng.choice(ORG_WORDS) + rng.choice(ORG_KINDS),
        "url": f"https://www.c{cid}{tag}.com.tw/clinic",
        "address": address(rng, county),
        "phone": _phone(cid, 0),
        "sentinel": rng.random() < 0.03,
    }


def _phone(cid, version):
    area = 2 + cid % 7
    digits = f"{cid * 7 + version * 1000003:08d}"[-8:]
    return f"(0{area}) {digits[:4]}-{digits[4:]}"


def _page_row(c, this_week, in_4_weeks, county_total):
    return {
        "id": c["id"],
        "county": c["county"],
        "html": f"<a href='{c['url']}'>{c['org']} &amp; 門診</a>",
        "address": c["address"],
        "phone": SENTINEL if c["sentinel"] else c["phone"],
        "this_week": str(this_week),
        "in_4_weeks": str(in_4_weeks),
        "county_total": county_total,
    }


def _write_pages(dirpath, rows):
    os.makedirs(dirpath, exist_ok=True)
    for p in range(0, len(rows), PAGE_ROWS):
        page = rows[p:p + PAGE_ROWS]
        with open(os.path.join(dirpath, f"page_{p // PAGE_ROWS:05d}.json"), "w",
                  encoding="utf-8") as f:
            json.dump(page, f, ensure_ascii=False, sort_keys=True, separators=(",", ":"))


def _day(rng, clinics, root, violations):
    """Write one day's yes/no paged dumps; return that day's truth."""
    by_county = {}
    for c in clinics:
        by_county[c["county"]] = by_county.get(c["county"], 0) + 1
    yes, no, expect = [], [], {}
    for c in clinics:
        u = rng.random()
        sets = ["yes", "no"] if u < 0.15 else (["yes"] if u < 0.575 else ["no"])
        vals = {}
        for s in sets:
            tw, i4 = rng.randint(0, 40), rng.randint(0, 120)
            if len(sets) == 1 and c["id"] in violations:
                i4 = -1
            vals[s] = (tw, i4)
            (yes if s == "yes" else no).append(_page_row(c, tw, i4, by_county[c["county"]]))
        expect[c["id"]] = {
            "has_quota": "yes" in sets,
            "this_week": max(v[0] for v in vals.values()),
            "in_4_weeks": max(v[1] for v in vals.values()),
            "sets": len(sets),
        }
    for rows in (yes, no):
        # 5% exact-key duplicates: a row repeated at a random later position
        for r in rng.sample(rows, len(rows) // 20):
            rows.insert(rng.randrange(len(rows) + 1), dict(r))
    _write_pages(os.path.join(root, "yes"), yes)
    _write_pages(os.path.join(root, "no"), no)
    return by_county, expect, len(yes) + len(no)


DAILY_SCHEMA = {
    "type": "object",
    "required": ["id", "county", "address", "this_week", "in_4_weeks", "has_quota"],
    "properties": {
        "id": {"type": "string", "pattern": "^C[0-9]{7}$"},
        "county": {"type": "string"},
        "org_name": {"type": ["string", "null"]},
        "address": {"type": "string"},
        "phone": {"type": ["string", "null"]},
        "this_week": {"type": "integer", "minimum": 0},
        "in_4_weeks": {"type": "integer", "minimum": 0},
        "has_quota": {"type": "boolean"},
        "lat": {"type": ["number", "null"]},
        "source": {"type": ["string", "null"], "enum": ["cache", "fresh", None]},
    },
}


DAILY_CLINICS = 2000


def _yesterday():
    """Yesterday's roster. It is the same for every seed, so yesterday's
    snapshot and geocode cache are built once and restored before every
    run; today's changes, quota sets, duplicates and violations are
    drawn from the seed."""
    rng = _rng("daily_refresh", "yesterday")
    day1 = [_clinic(rng, i) for i in range(DAILY_CLINICS)]
    return rng, day1, set(c["id"] for c in rng.sample(day1, DAILY_CLINICS // 100))


def gen_daily_yesterday(out):
    """Yesterday's paged dumps (input of the untimed day-1 run)."""
    rng, day1, viol = _yesterday()
    _, _, rows = _day(rng, day1, os.path.join(out, "day1"), viol)
    _write_json(os.path.join(out, "schema.json"), DAILY_SCHEMA)
    return rows


def gen_daily_refresh(seed, out):
    """Today's roster as paged JSON dumps: yesterday's clinics plus 2% new
    ones, with 3% of phones changed so those match yesterday's snapshot by
    URL domain instead of phone."""
    _, day1, _ = _yesterday()
    rng = _rng("daily_refresh", seed)
    n = len(day1)
    day2 = [dict(c) for c in day1]
    changed = set()
    for c in rng.sample(day2, n * 3 // 100):
        c["phone"] = _phone(int(c["id"][1:]), 1)
        changed.add(c["id"])
    new = [_clinic(rng, n + i) for i in range(n * 2 // 100)]
    day2 += new
    rng.shuffle(day2)
    viol = set(c["id"] for c in rng.sample(day2, len(day2) // 100))
    by_county, expect, rows = _day(rng, day2, os.path.join(out, "day2"), viol)
    planted = sum(1 for cid in viol if expect[cid]["sets"] == 1)
    both = sorted(cid for cid, e in expect.items() if e["sets"] == 2)
    sample = {cid: expect[cid] for cid in rng.sample(both, min(200, len(both)))}
    _write_json(os.path.join(out, "schema.json"), DAILY_SCHEMA)
    _write_json(os.path.join(out, "truth.json"), {
        "county_totals": by_county,
        "national_total": len(day2),
        "violations": planted,
        "sample": sample,
        "changed_phone": sorted(changed),
        "new": sorted(c["id"] for c in new),
    })
    return rows


# ------------------------------------------------------------- geocode_backfill

def gen_geocode_backfill(seed, out, n=3000):
    """``n`` addresses from the shared address generator."""
    rng = _rng("geocode_backfill", seed)
    os.makedirs(out, exist_ok=True)
    rows = []
    for i in range(n):
        county = rng.choices(COUNTIES, COUNTY_WEIGHTS)[0]
        rows.append({"id": i, "address": address(rng, county), "county": county})
    _write_jsonl(os.path.join(out, "addresses.jsonl"), rows)
    _write_json(os.path.join(out, "truth.json"),
                {"rows": n, "county": {str(r["id"]): r["county"] for r in rows}})
    return n


# -------------------------------------------------------------- corpus_curation

BOILERPLATE = 12       # distinct 10-token header chunks shared by many docs
CHUNK_TOKENS = 10      # chunkDedup's fixed chunk width
PACK_CAPACITY = 512


def _vocab(rng, lang, size):
    if lang == "zh":
        chars = [chr(c) for c in range(0x4E00, 0x4E00 + 3000)]
        return ["".join(rng.choice(chars) for _ in range(2)) for _ in range(size)]
    letters = "abcdefghijklmnopqrstuvwxyz" if lang == "en" else "aeioubcdfglmnrstvz"
    return ["".join(rng.choice(letters) for _ in range(rng.randint(3, 7))) for _ in range(size)]


def gen_corpus_curation(seed, out, n=5000):
    """``n`` documents of ~50 words in zh, en and a third language. 10% are
    exact copies, 10% sit in near-duplicate clusters of 2-8 (each variant
    swaps one word of its base, shingle Jaccard ~0.9 to the base), 5% are
    junk, 1% leak an eval document. A share carries a boilerplate header
    that chunk dedup strips."""
    rng = _rng("corpus_curation", seed)
    os.makedirs(out, exist_ok=True)
    vocabs = {lang: _vocab(rng, lang, 20000) for lang in ("zh", "en", "xx")}
    en_stops = ["the", "and", "of", "to", "in", "is"]
    headers = [" ".join(rng.choice(vocabs["en"]) for _ in range(CHUNK_TOKENS))
               for _ in range(BOILERPLATE)]

    def body(lang, words=50):
        v = vocabs[lang]
        toks = []
        for _ in range(words):
            toks.append(rng.choice(en_stops) if lang == "en" and rng.random() < 0.2
                        else rng.choice(v))
        return toks

    evals = [" ".join(body(rng.choice(["zh", "en"]))) for _ in range(200)]
    docs, exact, near, junk, leak, singles = [], [], [], [], [], []

    def add(text):
        docs.append(text)
        return len(docs) - 1

    n_exact, n_near = n // 10, n // 10
    n_junk, n_leak = n // 20, n // 100
    n_single = n - n_exact - n_near - n_junk - n_leak
    # headers are prepended to whole clusters (base and every copy alike)
    # so a header never separates a cluster's members
    def header():
        return (headers[rng.randrange(BOILERPLATE)] + " ") if rng.random() < 0.2 else ""

    for _ in range(n_single):
        singles.append(add(header() + " ".join(body(rng.choice(["zh", "en", "xx"])))))
    made = 0
    while made < n_exact:
        k = min(rng.randint(2, 3), n_exact - made)
        text = header() + " ".join(body(rng.choice(["zh", "en", "xx"])))
        exact.append([add(text) for _ in range(k)])
        made += k
    made = 0
    while made < n_near:
        k = min(rng.randint(2, 8), n_near - made)
        if k < 2:
            k = 2
        lang = rng.choice(["zh", "en", "xx"])
        base, h = body(lang), header()
        group = [add(h + " ".join(base))]
        for _ in range(k - 1):
            var = list(base)
            j = rng.randrange(len(var))
            var[j] = rng.choice(vocabs[lang])
            group.append(add(h + " ".join(var)))
        near.append(group)
        made += k
    for _ in range(n_junk):
        junk.append(add(" ".join(rng.choice(["###", "!!", "123", "$$", "~"])
                                 for _ in range(rng.randint(2, 5)))))
    for _ in range(n_leak):
        leak.append(add(rng.choice(evals)))
    order = list(range(len(docs)))
    rng.shuffle(order)            # doc ids are a random permutation
    rows = [{"doc_id": order[i], "text": t} for i, t in enumerate(docs)]
    rows.sort(key=lambda r: r["doc_id"])
    _write_jsonl(os.path.join(out, "docs.jsonl"), rows)
    _write_jsonl(os.path.join(out, "eval.jsonl"),
                 [{"eval_id": i, "text": t} for i, t in enumerate(evals)])
    ids = lambda xs: [order[i] for i in xs]
    _write_json(os.path.join(out, "truth.json"), {
        "rows": len(docs),
        "capacity": PACK_CAPACITY,
        "exact": [ids(g) for g in exact],
        "near": [ids(g) for g in near],
        "junk": ids(junk),
        "leak": ids(leak),
        "singles": ids(singles),
    })
    return len(docs)


# ------------------------------------------------------------------ change_feed

def gen_change_feed(seed, out, keys=20000, files=160, rows_per_file=50):
    """A ``keys``-row target snapshot plus ``files`` change files of
    ``rows_per_file`` upserts each. Most changes hit existing keys (the
    snapshot stays near its size); a few insert new keys."""
    rng = _rng("change_feed", seed)
    os.makedirs(os.path.join(out, "changes"), exist_ok=True)
    state = {k: (rng.randrange(1 << 30), 0) for k in range(keys)}
    _write_jsonl(os.path.join(out, "seed.jsonl"),
                 [{"key": k, "value": v, "seq": s} for k, (v, s) in state.items()])
    seq = 0
    next_key = keys
    for f in range(files):
        rows = []
        for _ in range(rows_per_file):
            seq += 1
            if rng.random() < 0.02:
                k, next_key = next_key, next_key + 1
            else:
                k = rng.randrange(keys)
            v = rng.randrange(1 << 30)
            state[k] = (v, seq)
            rows.append({"key": k, "value": v, "seq": seq})
        _write_jsonl(os.path.join(out, "changes", f"f_{f:05d}.jsonl"), rows)
    _write_json(os.path.join(out, "truth.json"), {
        "events": seq,
        "state": {str(k): [v, s] for k, (v, s) in state.items()},
    })
    return seq


GENERATORS = {
    "daily_refresh": gen_daily_refresh,
    "geocode_backfill": gen_geocode_backfill,
    "corpus_curation": gen_corpus_curation,
    "change_feed": gen_change_feed,
}
