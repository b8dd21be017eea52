"""Output checks. Each takes the run's output directory and the workload's
ground truth and returns a list of problems; an empty list means the
outputs are correct. The JVM writes what is checked as Spark JSON-lines
part files."""

import csv
import glob
import json
import os


def read_parts(d):
    """Rows of every Spark ``part-*`` JSON-lines file under ``d``."""
    rows = []
    for p in sorted(glob.glob(os.path.join(d, "part-*"))):
        with open(p, encoding="utf-8") as f:
            rows.extend(json.loads(line) for line in f if line.strip())
    return rows


def check_daily_refresh(out, truth):
    errs = []
    counties = read_parts(os.path.join(out, "by_county"))
    totals = {c["county"]: c["total"] for c in counties}
    if totals != truth["county_totals"]:
        bad = sorted(k for k in set(totals) | set(truth["county_totals"])
                     if totals.get(k) != truth["county_totals"].get(k))
        errs.append(f"county totals differ for {bad[:5]}")
    for c in counties:
        if len(c["rows"]) != c["total"]:
            errs.append(f"{c['county']}: total {c['total']} but {len(c['rows'])} rows")
    national = read_parts(os.path.join(out, "national"))
    if len(national) != 1 or national[0]["total"] != sum(totals.values()) \
            or national[0]["total"] != truth["national_total"]:
        errs.append("national total is not the sum of the county totals")
    rows = {r["id"]: r for c in counties for r in c["rows"]}
    for cid, e in truth["sample"].items():
        r = rows.get(cid)
        if r is None or (r["has_quota"], r["this_week"], r["in_4_weeks"]) != \
                (e["has_quota"], e["this_week"], e["in_4_weeks"]):
            errs.append(f"has_quota/max rule broken on {cid}")
            break
    violations = sum(r["violations"] for r in read_parts(os.path.join(out, "violations")))
    if violations != truth["violations"]:
        errs.append(f"{violations} violations reported, {truth['violations']} planted")
    if read_parts(os.path.join(out, "totals_mismatch")):
        errs.append("checkTotals reports a declared-total mismatch")
    carried = [r for r in rows.values() if r.get("matched_by")]
    if not carried or any(r.get("source") != "cache" for r in carried):
        errs.append("a carried row was not served from the geocode cache")
    csv_rows = 0
    for p in glob.glob(os.path.join(out, "csv", "county=*", "part-*")):
        with open(p, encoding="utf-8") as f:
            csv_rows += sum(1 for _ in csv.DictReader(f))
    if csv_rows != truth["national_total"]:
        errs.append(f"partitioned CSV holds {csv_rows} rows")
    return errs


def check_geocode_backfill(out, truth):
    errs = []
    rows = read_parts(os.path.join(out, "check"))
    ids = [r["id"] for r in rows]
    if len(ids) != truth["rows"] or len(set(ids)) != len(ids):
        errs.append(f"{len(ids)} results ({len(set(ids))} distinct) for {truth['rows']} rows")
    for r in rows:
        if r.get("resolution") not in ("address", "street", "county") \
                or r.get("lat") is None or r.get("lng") is None:
            errs.append(f"row {r['id']} has no resolution level")
            break
        if r.get("expected_county") != truth["county"].get(str(r["id"])):
            errs.append(f"row {r['id']}: county {r.get('expected_county')} is not the "
                        f"address county {truth['county'].get(str(r['id']))}")
            break
    return errs


def check_corpus_curation(out, truth):
    errs = []
    rows = read_parts(os.path.join(out, "check"))
    kept = {r["doc_id"] for r in rows}
    if len(kept) != len(rows):
        errs.append("a document was packed twice")
    for kind in ("exact", "near"):
        for group in truth[kind]:
            n = len(kept.intersection(group))
            if n != 1:
                errs.append(f"{kind} cluster {group[:3]}... keeps {n} documents")
                break
    if kept.intersection(truth["leak"]):
        errs.append("a planted eval leak survived")
    if kept.intersection(truth["junk"]):
        errs.append("a planted junk document survived")
    if not kept.issuperset(truth["singles"]):
        errs.append("a unique document was dropped")
    cap = truth["capacity"]
    by_split = {}
    for r in rows:
        by_split.setdefault(r["split"], []).append(r)
    for split, docs in by_split.items():
        docs.sort(key=lambda r: r["doc_id"])
        off, fill = 0, {}
        for r in docs:
            n = r["n_tokens"]
            if r["start_off"] != off or r["first_chunk"] != off // cap or \
                    (n > 0 and r["last_chunk"] != (off + n - 1) // cap):
                errs.append(f"{split}: doc {r['doc_id']} packed at the wrong offset")
                break
            for c in range(off // cap, (off + n - 1) // cap + 1) if n else ():
                fill[c] = fill.get(c, 0) + min(off + n, (c + 1) * cap) - max(off, c * cap)
            off += n
        if any(v > cap for v in fill.values()):
            errs.append(f"{split}: a packed chunk exceeds capacity {cap}")
    return errs


def check_change_feed(out, truth):
    """Keys whose final snapshot state is not the last-write-wins state."""
    rows = read_parts(os.path.join(out, "check"))
    got = {str(r["key"]): [r["value"], r["seq"]] for r in rows}
    want = truth["state"]
    wrong = [k for k in want if got.get(k) != want[k]] + [k for k in got if k not in want]
    return [f"{len(wrong)} keys differ from the last-write-wins state"] if wrong else []


CHECKS = {
    "daily_refresh": check_daily_refresh,
    "geocode_backfill": check_geocode_backfill,
    "corpus_curation": check_corpus_curation,
    "change_feed": check_change_feed,
}
