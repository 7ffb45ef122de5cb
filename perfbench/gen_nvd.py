#!/usr/bin/env python3
"""Seeded generator for synthetic NVD 1.1 feed sets.

The program under test sees only the files written here. Alongside them
the generator writes the answers the program must reproduce, computed by
this file's own model of the reference loader's rules
(nvd2mysqlloader.py:180-269, 449-464):

- feeds are applied in rank order and a later feed replaces an earlier
  row for the same cve_id; inside one feed the later lastModifiedDate
  wins;
- a refresh batch replaces stored rows for the same cve_id;
- descriptions are concatenated with no separator, reference URLs are
  comma-joined, and the vulnerable CPE list takes top-level `cpe_match`
  entries only (child nodes are dropped);
- a feed whose document does not parse is quarantined: none of its rows
  load and it is not recorded in update_history.

Layouts written under the output directory:

  bulk/       year feeds 2002..2023, `modified`, `recent` (full load);
              for the refresh workload four `yearsN` feeds replace the
              per-year feeds
  warmup/     a small full-load feed set, loaded once before timing
  cycles/NNN/ `modified` and `recent` for refresh cycle NNN
  manifest.json  feed lists, ranks, cycle kinds, reads and expected
                 answers
  expected_bulk.json  the winning item per cve_id after the full load

Usage: gen_nvd.py <out_dir> --seed N [--serve]
  (--serve writes the nvd_refresh_serve set, else the nvd_bulk_load set)
"""
import argparse
import copy
import json
import os
import random

# Items per NVD 1.1 year feed (2002 holds 1999-2002). The generator keeps
# this skew when it scales the feed set down.
YEAR_WEIGHTS = {
    2002: 6745, 2003: 1550, 2004: 2707, 2005: 4764, 2006: 7143,
    2007: 6578, 2008: 7170, 2009: 5009, 2010: 5204, 2011: 4822,
    2012: 5821, 2013: 6677, 2014: 8934, 2015: 8550, 2016: 10463,
    2017: 17306, 2018: 18223, 2019: 18938, 2020: 19222, 2021: 21950,
    2022: 26431, 2023: 29066,
}
YEARS = sorted(YEAR_WEIGHTS)
LAST_YEAR = YEARS[-1]
# The feed whose download is truncated: its document does not parse.
CORRUPT_FEED = "2004"
NEVER_LOADED_SENTINEL = "2019-00-01T00:00:00-04:00"
# CVEs in the full feed set (both NVD workloads), and the refresh cycles
# written for nvd_refresh_serve (three rounds of CYCLE_KINDS)
CVES = 8000
SERVE_CYCLES = 9

VENDORS = ["acme", "globex", "initech", "umbrella", "hooli", "vandelay",
           "stark", "wayne", "tyrell", "cyberdyne", "soylent", "wonka",
           "oscorp", "aperture", "blackmesa", "massive", "gringotts",
           "monarch", "nakatomi", "veridian", "zorg", "oceanic", "dharma",
           "duff", "krusty", "prestige", "sirius", "yoyodyne", "weyland",
           "rekall"]
PRODUCTS = ["router", "webmail", "portal", "kernel", "firmware", "agent",
            "gateway", "editor", "reader", "player", "server", "client",
            "scanner", "cms", "wiki", "forum", "shop", "vpn", "dns_daemon",
            "ldap_proxy"]
WORDS = ["buffer", "overflow", "in", "the", "parser", "allows", "remote",
         "attackers", "to", "execute", "arbitrary", "code", "via", "a",
         "crafted", "request", "cross-site", "scripting", "injection",
         "denial", "of", "service", "memory", "corruption", "privilege",
         "escalation", "path", "traversal", "authentication", "bypass"]
UNICODE = ["Überlauf im Parser", "débordement de tampon", "漏洞 允许 远程",
           "уязвимость ядра", "Δ-εκτέλεση κώδικα", "naïve café ✓"]
CWES = ["CWE-79", "CWE-89", "CWE-20", "CWE-787", "CWE-125", "CWE-416",
        "NVD-CWE-Other", "NVD-CWE-noinfo"]
AV = ["NETWORK", "ADJACENT_NETWORK", "LOCAL"]
AC = ["LOW", "MEDIUM", "HIGH"]
AU = ["NONE", "SINGLE", "MULTIPLE"]
CIA = ["NONE", "PARTIAL", "COMPLETE"]


def cpe(vendor, product, version):
    return f"cpe:2.3:a:{vendor}:{product}:{version}:*:*:*:*:*:*:*"


def date(rng, year, lo_day=1):
    """An NVD 1.1 timestamp ('2019-03-04T15:29Z') inside `year`."""
    day = rng.randint(lo_day, 360)
    month, dom = 1 + (day - 1) // 30, 1 + (day - 1) % 30
    dom = min(dom, 28)
    return f"{year}-{month:02d}-{dom:02d}T{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}Z"


def later(ts, minutes):
    """`ts` moved forward by whole minutes (string arithmetic on the
    fixed-width NVD format, no timezone math needed)."""
    y, mo, d = int(ts[0:4]), int(ts[5:7]), int(ts[8:10])
    h, mi = int(ts[11:13]), int(ts[14:16])
    total = ((((y * 12 + mo - 1) * 28 + d - 1) * 24 + h) * 60 + mi) + minutes
    mi, total = total % 60, total // 60
    h, total = total % 24, total // 24
    d, total = total % 28 + 1, total // 28
    mo, y = total % 12 + 1, total // 12
    return f"{y:04d}-{mo:02d}-{d:02d}T{h:02d}:{mi:02d}Z"


def summary(rng):
    words = [rng.choice(WORDS) for _ in range(rng.randint(8, 30))]
    text = " ".join(words)
    if rng.random() < 0.15:
        text = rng.choice(UNICODE) + " " + text
    return text


def make_item(rng, cve_id, year, published):
    """One CVE item in the NVD 1.1 JSON shape, using only the fields of
    graft.nvd.NvdSchema.cveItem (so a parse of the stored sidecar equals
    the generated item)."""
    descs = [{"lang": "en", "value": summary(rng)}]
    if rng.random() < 0.2:
        descs.append({"lang": "en", "value": " " + summary(rng)})
    refs = [{"url": f"https://example.org/{cve_id.lower()}/{i}", "name": f"ref{i}",
             "refsource": "MISC", "tags": ["Patch"] if i == 0 else []}
            for i in range(rng.randint(0, 4))]
    cve = {
        "data_type": "CVE", "data_format": "MITRE", "data_version": "4.0",
        "CVE_data_meta": {"ID": cve_id, "ASSIGNER": "cve@mitre.org"},
        "problemtype": {"problemtype_data": [{"description": [
            {"lang": "en", "value": rng.choice(CWES)}
            for _ in range(rng.randint(0, 2))]}]},
        "description": {"description_data": descs},
        "references": {"reference_data": refs},
    }
    item = {"cve": cve}
    if rng.random() >= 0.05:
        item["configurations"] = make_config(rng)
    if rng.random() >= 0.05:
        item["impact"] = make_impact(rng, year)
    item["publishedDate"] = published
    item["lastModifiedDate"] = later(published, rng.randint(0, 90 * 24 * 60))
    return item


def make_match(rng, vulnerable):
    return {"vulnerable": vulnerable,
            "cpe23Uri": cpe(rng.choice(VENDORS), rng.choice(PRODUCTS),
                            f"{rng.randint(0, 9)}.{rng.randint(0, 20)}"),
            "cpe_name": []}


def make_config(rng):
    nodes = []
    for _ in range(rng.randint(1, 2)):
        node = {"operator": "OR",
                "cpe_match": [make_match(rng, rng.random() < 0.85)
                              for _ in range(rng.randint(0, 3))]}
        if rng.random() < 0.25:
            node["operator"] = "AND"
            node["children"] = [{"operator": "OR", "cpe_match": [
                make_match(rng, True) for _ in range(rng.randint(1, 2))]}]
        nodes.append(node)
    return {"CVE_data_version": "4.0", "nodes": nodes}


def make_impact(rng, year):
    v2 = {"version": "2.0", "vectorString": "AV:N/AC:L/Au:N/C:P/I:P/A:P",
          "accessVector": rng.choice(AV), "accessComplexity": rng.choice(AC),
          "authentication": rng.choice(AU),
          "confidentialityImpact": rng.choice(CIA),
          "integrityImpact": rng.choice(CIA),
          "availabilityImpact": rng.choice(CIA),
          "baseScore": rng.randint(10, 100) / 10.0}
    impact = {"baseMetricV2": {"cvssV2": v2, "severity": "MEDIUM",
                               "exploitabilityScore": 10.0, "impactScore": 6.4}}
    if year >= 2016 and rng.random() < 0.9:
        score = rng.randint(10, 100) / 10.0
        sev = "CRITICAL" if score >= 9 else "HIGH" if score >= 7 else "MEDIUM" if score >= 4 else "LOW"
        impact["baseMetricV3"] = {"cvssV3": {
            "version": "3.1", "vectorString": "CVSS:3.1/AV:N/AC:L/PR:N/UI:N/S:U/C:H/I:H/A:H",
            "attackVector": "NETWORK", "attackComplexity": "LOW",
            "privilegesRequired": "NONE", "userInteraction": "NONE",
            "scope": "UNCHANGED", "confidentialityImpact": "HIGH",
            "integrityImpact": "HIGH", "availabilityImpact": "HIGH",
            "baseScore": score, "baseSeverity": sev},
            "exploitabilityScore": 3.9, "impactScore": 5.9}
    return impact


def updated(rng, item, minutes, new_published=None):
    """A new version of `item`: later lastModifiedDate, new description
    and score, optionally a corrected publish date."""
    it = copy.deepcopy(item)
    it["cve"]["description"]["description_data"] = [
        {"lang": "en", "value": summary(rng)}]
    if "impact" in it:
        it["impact"]["baseMetricV2"]["cvssV2"]["baseScore"] = rng.randint(10, 100) / 10.0
    if new_published is not None:
        it["publishedDate"] = new_published
    it["lastModifiedDate"] = later(it["lastModifiedDate"], minutes)
    return it


# --- the expected flattened row (the model of CveFlatten) -------------

def vulnerable_cpes(item):
    nodes = (item.get("configurations") or {}).get("nodes") or []
    return [m["cpe23Uri"] for n in nodes for m in (n.get("cpe_match") or [])
            if m.get("vulnerable")]


def flat_row(item):
    cve = item["cve"]
    impact = item.get("impact") or {}
    v2 = (impact.get("baseMetricV2") or {}).get("cvssV2") or {}
    v3 = (impact.get("baseMetricV3") or {}).get("cvssV3") or {}
    cpes = vulnerable_cpes(item)
    published = item.get("publishedDate") or ""
    return {
        "cve_id": cve["CVE_data_meta"]["ID"],
        "summary": "".join(d.get("value", "") for d in cve["description"]["description_data"]),
        "score": v2.get("baseScore", 0.0),
        "access_vector": v2.get("accessVector", ""),
        "access_complexity": v2.get("accessComplexity", ""),
        "authorize": v2.get("authentication", ""),
        "availability_impact": v2.get("availabilityImpact", ""),
        "confidentiality_impact": v2.get("confidentialityImpact", ""),
        "integrity_impact": v2.get("integrityImpact", ""),
        "last_modified_datetime": item.get("lastModifiedDate") or "",
        "published_datetime": published,
        "urls": ",".join(r.get("url", "") for r in cve["references"]["reference_data"]),
        "vulnerable_software_list": ",".join(cpes),
        "vulnerable_cpes": cpes,
        "score_v3": v3.get("baseScore", 0.0),
        "severity_v3": v3.get("baseSeverity", ""),
        "cwes": [d["value"] for p in cve["problemtype"]["problemtype_data"]
                 for d in p["description"]],
        "config": item.get("configurations"),
        "cve_item": item,
        "publish_year": int(published[:4]) if len(published) >= 4 else 1900,
    }


def last_write_wins(feeds):
    """feeds: [(rank, [items])] -> {cve_id: item}; higher rank wins, then
    the later lastModifiedDate."""
    best = {}
    for rank, items in feeds:
        for it in items:
            key = it["cve"]["CVE_data_meta"]["ID"]
            cand = (rank, it["lastModifiedDate"])
            if key not in best or cand > best[key][0]:
                best[key] = (cand, it)
    return {k: v[1] for k, v in best.items()}


# --- files -----------------------------------------------------------

def feed_doc(items):
    return {"CVE_data_type": "CVE", "CVE_data_format": "MITRE",
            "CVE_data_version": "4.0",
            "CVE_data_numberOfCVEs": str(len(items)),
            "CVE_data_timestamp": "2024-06-01T00:00Z", "CVE_Items": items}


def write_feed(d, modifier, items, lmd, corrupt=False):
    os.makedirs(d, exist_ok=True)
    text = json.dumps(feed_doc(items), ensure_ascii=False)
    if corrupt:
        # a truncated download: the document stops part-way through
        text = text[: len(text) * 3 // 5]
    data = text.encode("utf-8")
    with open(os.path.join(d, f"{modifier}.json"), "wb") as f:
        f.write(data)
    assert lmd > NEVER_LOADED_SENTINEL, lmd
    meta = (f"lastModifiedDate:{lmd}\r\nsize:{len(data)}\r\nzipSize:0\r\n"
            f"gzSize:0\r\nsha256:{'0' * 64}\r\n")
    with open(os.path.join(d, f"{modifier}.meta"), "w") as f:
        f.write(meta)
    return len(data)


def meta_lmd(minute):
    """Feed .meta timestamps, all above the reference's never-loaded
    sentinel (a meta below it would never load)."""
    return f"2024-06-{1 + minute // 1440:02d}T{minute // 60 % 24:02d}:{minute % 60:02d}:00-04:00"


def full_load_set(rng, n_cves, d, id_base=0, few_feeds=False):
    """Writes year feeds + modified + recent + the corrupt feed into d.
    With `few_feeds` the loadable year items go into four `yearsN` feeds
    (same items, same final state, far fewer feeds to plan).
    Returns (feeds [(modifier, rank, bytes)], ranked items, corrupt ids)."""
    total_w = sum(YEAR_WEIGHTS.values())
    per_year = {y: max(3, round(n_cves * 0.96 * w / total_w)) for y, w in YEAR_WEIGHTS.items()}
    year_items = {}
    for y in YEARS:
        items = []
        for i in range(per_year[y]):
            cve_id = f"CVE-{y}-{id_base + i + 1:05d}"
            # ~5% are published the year after their id year
            pub_year = y + 1 if rng.random() < 0.05 and y < LAST_YEAR else y
            items.append(make_item(rng, cve_id, y, date(rng, pub_year)))
        year_items[y] = items
    loadable = [it for y in YEARS if str(y) != CORRUPT_FEED for it in year_items[y]]
    # modified: updates to ~3% of loadable items, some twice (the later
    # lastModifiedDate must win), plus new CVEs of the last year
    modified = []
    for it in rng.sample(loadable, max(4, len(loadable) * 3 // 100)):
        u = updated(rng, it, rng.randint(60, 10000))
        modified.append(u)
        if rng.random() < 0.1:
            modified.append(updated(rng, u, rng.randint(1, 500)))
    n_new = max(4, n_cves * 2 // 100)
    new_items = [make_item(rng, f"CVE-{LAST_YEAR}-{id_base + 90000 + i:05d}",
                           LAST_YEAR, date(rng, LAST_YEAR, 200)) for i in range(n_new)]
    modified += new_items[: n_new // 2]
    # recent: the other new CVEs, plus re-publications of some modified
    # items with an OLDER lastModifiedDate -- recent ranks last, so it
    # still wins
    recent = list(new_items[n_new // 2:])
    by_id = {it["cve"]["CVE_data_meta"]["ID"]: it for it in modified}
    for key in rng.sample(sorted(by_id), max(2, len(by_id) // 20)):
        r = copy.deepcopy(by_id[key])
        r["lastModifiedDate"] = later(r["publishedDate"], 1)
        r["cve"]["description"]["description_data"] = [{"lang": "en", "value": summary(rng)}]
        recent.append(r)
    rng.shuffle(modified)
    feeds, ranked = [], []
    rank = 0
    groups = [(str(y), year_items[y]) for y in YEARS]
    if few_feeds:
        # four feeds of about equal size (a multiLine JSON feed is read by
        # one task, so fewer than the cores would serialize the scan)
        loadable_items = [it for m, items in groups if m != CORRUPT_FEED for it in items]
        q = -(-len(loadable_items) // 4)
        groups = [(f"years{i}", loadable_items[i * q:(i + 1) * q]) for i in range(4)]
        groups.append((CORRUPT_FEED, year_items[int(CORRUPT_FEED)]))
    for m, items in groups:
        size = write_feed(d, m, items, meta_lmd(10 + rank), corrupt=(m == CORRUPT_FEED))
        feeds.append((m, rank, size))
        if m != CORRUPT_FEED:
            ranked.append((rank, items))
        rank += 1
    for m, items in (("modified", modified), ("recent", recent)):
        size = write_feed(d, m, items, meta_lmd(10 + rank))
        feeds.append((m, rank, size))
        ranked.append((rank, items))
        rank += 1
    corrupt_ids = sorted(it["cve"]["CVE_data_meta"]["ID"] for it in year_items[int(CORRUPT_FEED)])
    return feeds, ranked, corrupt_ids


def write_items(path, state):
    """The expected store: the winning item per cve_id (flat_row gives
    the row the store must hold for it)."""
    with open(path, "w", encoding="utf-8") as f:
        f.write(json.dumps([state[k] for k in sorted(state)], ensure_ascii=False))


# One round of refresh cycles: updates spread over many years; corrected
# publish years plus new CVEs; nothing stale.
CYCLE_KINDS = ["spread", "move_new", "noop"]


def read_mix(rng, state, touched, missing_ids):
    """The reads run after one refresh cycle, with expected answers:
    two lookup hits (one of them a CVE this cycle touched), one miss,
    one published-date range scan, one vendor:product CPE search."""
    ids = sorted(state)
    reads = []
    hits = [rng.choice(sorted(touched))] if touched else []
    hits += rng.sample(ids, 2 - len(hits))
    for cve_id in hits + rng.sample(missing_ids, 1):
        reads.append({"kind": "lookup", "key": cve_id,
                      "expected": lookup_answer(state.get(cve_id))})
    year = rng.choice(YEARS[-8:])
    month = rng.randint(1, 11)
    lo, hi = f"{year}-{month:02d}-01", f"{year}-{month + 1:02d}-01"
    reads.append({"kind": "range", "key": [lo, hi], "expected": sorted(
        k for k, it in state.items() if lo <= (it.get("publishedDate") or "") < hi)})
    v, p = rng.choice(VENDORS), rng.choice(PRODUCTS)
    needle = f":{v}:{p}:"
    reads.append({"kind": "cpe", "key": [v, p], "expected": sorted(
        k for k, it in state.items() if needle in ",".join(vulnerable_cpes(it)))})
    return reads


def lookup_answer(item):
    if item is None:
        return None
    r = flat_row(item)
    return [r["cve_id"], r["summary"], r["last_modified_datetime"],
            r["published_datetime"], r["score"], r["urls"]]


def refresh_cycles(rng, state, d, n_cycles, recent_items, recent_lmd, missing_ids):
    """Writes cycles/NNN/{modified,recent}.{json,meta}; updates `state`
    in place. The modified feed is a rolling window: it repeats the
    previous cycle's items beside this cycle's."""
    cycles = []
    prev_items, prev_lmd = [], None
    minute = 100
    for c in range(n_cycles):
        kind = CYCLE_KINDS[c % len(CYCLE_KINDS)]
        cd = os.path.join(d, f"{c:03d}")
        ids = sorted(state)
        fresh = []
        if kind == "spread":
            for k in rng.sample(ids, max(8, len(ids) // 50)):
                fresh.append(updated(rng, state[k], rng.randint(60, 2000)))
        elif kind == "move_new":
            for k in rng.sample(ids, max(4, len(ids) // 200)):
                it = state[k]
                y = int(it["publishedDate"][:4])
                ny = y - 1 if y > YEARS[0] else y + 1
                fresh.append(updated(rng, it, rng.randint(60, 2000), date(rng, ny)))
            for i in range(max(8, len(ids) // 100)):
                fresh.append(make_item(rng, f"CVE-{LAST_YEAR + 1}-{c * 1000 + i + 1:05d}",
                                       LAST_YEAR + 1, date(rng, LAST_YEAR + 1)))
        before = len(state)
        if kind == "noop":
            # nothing stale: the metas repeat the last loaded dates
            items, lmd = prev_items, prev_lmd
            added, touched = 0, set()
        else:
            minute += 60
            items, lmd = prev_items + fresh, meta_lmd(minute)
            batch = last_write_wins([(0, items)])
            state.update(batch)
            added = len(state) - before
            touched = {it["cve"]["CVE_data_meta"]["ID"] for it in fresh}
        size = write_feed(cd, "modified", items, lmd)
        write_feed(cd, "recent", recent_items, recent_lmd)
        cycles.append({
            "dir": f"cycles/{c:03d}", "kind": kind, "stale": kind != "noop",
            "feed_bytes": size if kind != "noop" else 0,
            "tally_before": before, "tally_after": len(state), "added": added,
            "reads": read_mix(rng, state, touched or set(k for k in
                              (it["cve"]["CVE_data_meta"]["ID"] for it in prev_items)
                              if k in state), missing_ids),
        })
        if kind != "noop":
            prev_items, prev_lmd = fresh, lmd
    return cycles


def generate(out, seed, serve):
    """Writes one seeded input set under `out` (see the module doc): the
    nvd_refresh_serve set if `serve`, else the nvd_bulk_load set."""
    rng = random.Random(seed)
    os.makedirs(out, exist_ok=True)
    manifest = {"seed": seed, "cves": CVES}

    if not serve:
        wfeeds, _, _ = full_load_set(random.Random(seed ^ 0x5EED), 300,
                                     os.path.join(out, "warmup"), id_base=50000,
                                     few_feeds=True)
        manifest["warmup"] = {"dir": "warmup", "feeds": wfeeds}

    # the refresh workload loads its starting store in set-up, from four
    # feeds holding all years: the same rows as the per-year feed set
    feeds, ranked, corrupt_ids = full_load_set(rng, CVES, os.path.join(out, "bulk"),
                                               few_feeds=serve)
    state = last_write_wins(ranked)
    write_items(os.path.join(out, "expected_bulk.json"), state)
    manifest["bulk"] = {
        "dir": "bulk", "feeds": feeds, "corrupt_feed": CORRUPT_FEED,
        "corrupt_ids": corrupt_ids, "tally": len(state),
        "loaded_feeds": [m for m, _, _ in feeds if m != CORRUPT_FEED],
        "feed_bytes": sum(s for _, _, s in feeds)}

    if serve:
        recent_items = ranked[-1][1]
        recent_lmd = meta_lmd(10 + feeds[-1][1])
        missing = corrupt_ids[:50] + [f"CVE-1999-{i:05d}" for i in range(1, 51)]
        manifest["cycles"] = refresh_cycles(rng, state, os.path.join(out, "cycles"),
                                            SERVE_CYCLES, recent_items, recent_lmd, missing)
    # written last and renamed into place: its presence means the inputs
    # are complete
    tmp = os.path.join(out, "manifest.json.tmp")
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(manifest, f, ensure_ascii=False)
    os.rename(tmp, os.path.join(out, "manifest.json"))
    return manifest


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--serve", action="store_true")
    a = ap.parse_args()
    generate(a.out, a.seed, a.serve)


if __name__ == "__main__":
    main()
