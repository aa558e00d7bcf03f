"""Seeded inputs for the three workloads, and the answers the engine must
give on them, computed here without the engine.

Every random choice comes from one ``random.Random(seed)``, and files are
written in a fixed order with fixed formatting, so the same seed gives
byte-identical inputs.

``purl_lookup``, the advisory ETL its set-up runs and the requests:
  dump/<feed>/<id>-r<n>.json  one AdvisoryJsonIngest document per revision
  versions.csv                the (base_purl, version) dimension
  requests.jsonl              one request per line
Documents (``curation_stream``): suite.jsonl and batches/b-<n>.jsonl.
Expected answers for all of them: expected.json.
"""

import itertools
import json
import os
import random

# (ptype, namespace, vers scheme, version suffix)
ECOSYSTEMS = [
    ("npm", "", "npm", ""),
    ("pypi", "", "pypi", ""),
    ("maven", "org.example", "maven", ""),
    ("deb", "debian", "deb", "-1"),
]
# feed -> ecosystems it publishes advisories for
FEEDS = {
    "github": ("npm", "pypi", "maven"),
    "osv": ("npm", "pypi"),
    "debian": ("deb",),
}
FEED_WEIGHTS = {"github": 0.45, "osv": 0.3, "debian": 0.25}
ID_FORMAT = {"github": "GHSA-{:05d}", "osv": "OSV-2024-{:05d}",
             "debian": "DSA-{:05d}-1"}
ZIPF_S = 1.1
WORKLOADS = ("purl_lookup", "curation_stream")

# Size of the advisory dump. Small, because every run starts a fresh JVM
# and the ETL's cost there is mostly fixed (planning, codegen, jobs).
ADVISORIES = 120
PACKAGES = 40
REQUESTS = 2000
REQUEST_MIX = ["purl"] * 5 + ["bulk"] * 2 + ["package"] * 2 + ["search"]
PAGE = 100
BULK_SIZE = 100

BATCHES = 120
BATCH_DOCS = 40
SUITE_DOCS = 20

WORDS = [a + b for a, b in itertools.product(
    ["ka", "lo", "mi", "nu", "pe", "ro", "su", "ti", "va", "ze", "bra",
     "cle", "dri", "flo", "gru", "pla", "sto", "tre", "qui", "xan"],
    ["n", "l", "r", "s", "t", "m", "do", "ra", "vi", "ko", "ne", "pu",
     "sa", "te", "lo", "gi", "mar", "ben", "cor", "dax"])]
STOPWORDS = ["the", "of", "a"]


def zipf_weights(n, rng):
    """Zipf popularity over n items, in a random rank order."""
    ranks = list(range(1, n + 1))
    rng.shuffle(ranks)
    return [1.0 / r ** ZIPF_S for r in ranks]


def version_key(v):
    """Ordering of the generated versions: dotted numbers, optional -1."""
    return tuple(int(x) for x in v.replace("-", ".").split("."))


def make_packages(rng, n):
    pkgs = []
    for i in range(n):
        ptype, ns, scheme, suffix = ECOSYSTEMS[i % len(ECOSYSTEMS)]
        name = "{}-{}".format(rng.choice(WORDS), i)
        base = "pkg:{}/{}{}".format(ptype, ns + "/" if ns else "", name)
        major, minor, patch = rng.randint(0, 3), rng.randint(0, 9), 0
        versions = []
        for _ in range(rng.randint(4, 40)):
            versions.append("{}.{}.{}{}".format(major, minor, patch, suffix))
            step = rng.random()
            if step < 0.7:
                patch += rng.randint(1, 3)
            elif step < 0.93:
                minor, patch = minor + 1, 0
            else:
                major, minor, patch = major + 1, 0, 0
        pkgs.append({"ptype": ptype, "namespace": ns, "name": name,
                     "scheme": scheme, "base_purl": base,
                     "versions": versions})
    return pkgs


def impact(rng, pkg):
    """Affected [lo, hi) over the package's versions, fixed at hi when
    hi exists; returns (affecting vers, fixed vers or None)."""
    vs = pkg["versions"]
    lo = rng.randrange(len(vs))
    hi = rng.randint(lo + 1, len(vs))
    scheme = pkg["scheme"]
    if hi < len(vs):
        return ("vers:{}/>={}|<{}".format(scheme, vs[lo], vs[hi]),
                "vers:{}/{}".format(scheme, vs[hi]))
    return "vers:{}/>={}".format(scheme, vs[lo]), None


def in_range(version, spec):
    """Membership for the two range shapes impact() writes."""
    if spec is None:
        return False
    cons = spec.split("/", 1)[1].split("|")
    k = version_key(version)
    if len(cons) == 1 and not cons[0].startswith(">="):
        return k == version_key(cons[0])
    lo = version_key(cons[0][2:])
    hi = version_key(cons[1][1:]) if len(cons) > 1 else None
    return lo <= k and (hi is None or k < hi)


def make_advisories(rng, n, pkgs, weights):
    """Advisory revisions; the last revision of each advisory is latest.
    Packages are drawn with the given popularity weights."""
    by_eco = {}
    for i, p in enumerate(pkgs):
        by_eco.setdefault(p["ptype"], []).append(i)
    cve_pool = max(1, int(n * 0.7))
    feeds = sorted(FEEDS)
    counters = {f: 0 for f in feeds}
    advisories = []
    for k in range(n):
        feed = rng.choices(feeds, [FEED_WEIGHTS[f] for f in feeds])[0]
        counters[feed] += 1
        aid = ID_FORMAT[feed].format(counters[feed])
        cands = [i for e in FEEDS[feed] for i in by_eco[e]]
        cw = [weights[i] for i in cands]
        chosen = []
        for _ in range(rng.choice([1, 1, 1, 2, 2, 3])):
            i = rng.choices(cands, cw)[0]
            if i not in chosen:
                chosen.append(i)
        cve = "CVE-2024-{:05d}".format(rng.randrange(cve_pool))
        extra = "CVE-2023-{:05d}".format(rng.randrange(cve_pool))
        n_rev = rng.choice([1, 2, 2, 3, 3, 4])
        has_extra = rng.random() < 0.2
        revisions = []
        for r in range(1, n_rev + 1):
            last = r == n_rev
            aliases = [cve] + ([extra] if has_extra and last else [])
            score = round(rng.uniform(2.0, 9.8), 1)
            revisions.append({
                "advisory_id": aid,
                "aliases": aliases,
                "summary": "{} in {} allows {} (revision {})".format(
                    rng.choice(["Overflow", "Injection", "Traversal",
                                "Bypass"]),
                    pkgs[chosen[0]]["name"],
                    " ".join(rng.choice(WORDS) for _ in range(6)), r),
                "affected_packages": [{
                    "package": {"type": pkgs[i]["ptype"],
                                "namespace": pkgs[i]["namespace"] or None,
                                "name": pkgs[i]["name"], "version": None,
                                "qualifiers": None, "subpath": None},
                    "affected_version_range": a,
                    "fixed_version_range": f,
                    "fixed_by_commit_patches": [],
                } for i in chosen for a, f in [impact(rng, pkgs[i])]],
                "references": [{
                    "reference_id": c, "reference_type": "advisory",
                    "url": "https://nvd.nist.gov/vuln/detail/" + c}
                    for c in aliases],
                "severities": [{
                    "system": "cvssv3.1", "value": str(score),
                    "scoring_elements":
                        "CVSS:3.1/AV:N/AC:L/PR:N/UI:N/S:U/C:H/I:H/A:H",
                    "published_at": None,
                    "url": "https://nvd.nist.gov/vuln/detail/" + cve}],
                "date_published": "2024-{:02d}-{:02d}T{:02d}:00:00".format(
                    1 + k % 12, r * 5, k % 24),
                "weaknesses": [rng.choice([20, 79, 89, 787])],
                "url": "https://example.org/{}/{}".format(feed, aid),
            })
        advisories.append({"feed": feed, "id": aid,
                           "avid": feed + "/" + aid,
                           "revisions": revisions})
    return advisories


def write_json(path, obj):
    with open(path, "w") as f:
        json.dump(obj, f, sort_keys=True, separators=(",", ":"))
        f.write("\n")


def write_dump(out, pkgs, advisories):
    for a in advisories:
        d = os.path.join(out, "dump", a["feed"])
        os.makedirs(d, exist_ok=True)
        for r, rev in enumerate(a["revisions"], 1):
            write_json(os.path.join(d, "{}-r{}.json".format(a["id"], r)),
                       rev)
    with open(os.path.join(out, "versions.csv"), "w") as f:
        f.write("base_purl,version\n")
        for p in pkgs:
            for v in p["versions"]:
                f.write("{},{}\n".format(p["base_purl"], v))


def affected_index(pkgs, advisories):
    """(base_purl, version) -> sorted latest avids affecting it, plus the
    unfurled row count and the fixed-or-affected package versions."""
    by_purl = {p["base_purl"]: p for p in pkgs}
    affected, touched, rows = {}, set(), 0
    for a in advisories:
        latest = a["revisions"][-1]
        for ap in latest["affected_packages"]:
            pk = ap["package"]
            base = "pkg:{}/{}{}".format(
                pk["type"], pk["namespace"] + "/" if pk["namespace"] else "",
                pk["name"])
            for v in by_purl[base]["versions"]:
                aff = in_range(v, ap["affected_version_range"])
                fix = in_range(v, ap["fixed_version_range"])
                if aff:
                    affected.setdefault((base, v), []).append(a["avid"])
                if aff or fix:
                    rows += 1
                    touched.add((base, v))
    for avids in affected.values():
        avids.sort()
    return affected, rows, touched


def advisory_expected(pkgs, advisories):
    _, rows, touched = affected_index(pkgs, advisories)
    log_rows = sum(len(a["revisions"]) for a in advisories)
    return {"log_rows": log_rows, "advisory_rows": log_rows,
            "latest": len(advisories), "unfurled_rows": rows,
            "mart_dirs": 24, "export_advisory_docs": len(advisories),
            "export_package_docs": len(touched)}


def make_requests(rng, pkgs, weights, advisories):
    """A request stream in the fixed mix, keys skewed toward popular
    packages, with the expected response of each request."""
    affected, _, _ = affected_index(pkgs, advisories)
    by_name = {p["name"]: w for p, w in zip(pkgs, weights)}
    by_alias, alias_weight = {}, {}
    for a in advisories:
        latest = a["revisions"][-1]
        w = max(by_name[ap["package"]["name"]]
                for ap in latest["affected_packages"])
        for al in latest["aliases"]:
            by_alias.setdefault(al, []).append(a)
            alias_weight[al] = max(alias_weight.get(al, 0.0), w)
    aliases = sorted(by_alias)

    def hot_package():
        return rng.choices(pkgs, weights)[0]

    def hot_purl():
        p = hot_package()
        return p["base_purl"], rng.choice(p["versions"])

    requests, expected = [], []
    while len(requests) < REQUESTS:
        block = list(REQUEST_MIX)
        rng.shuffle(block)
        for kind in block:
            if kind == "purl":
                base, v = hot_purl()
                req = {"kind": kind, "purl": base, "version": v}
                exp = affected.get((base, v), [])[:PAGE]
            elif kind == "bulk":
                purls = set()
                while len(purls) < BULK_SIZE:
                    purls.add(hot_purl())
                purls = sorted(purls)
                req = {"kind": kind, "purls": [list(p) for p in purls]}
                exp = sorted("{}@{}={}".format(
                    b, v, "true" if (b, v) in affected else "false")
                    for b, v in purls)
            elif kind == "package":
                p = hot_package()
                req = {"kind": kind, "purl": p["base_purl"]}
                exp = sorted("{}:{}".format(v, avid)
                             for v in p["versions"]
                             for avid in affected.get((p["base_purl"], v),
                                                      []))
            else:
                al = rng.choices(aliases,
                                 [alias_weight[x] for x in aliases])[0]
                req = {"kind": kind, "alias": al}
                hits = sorted(by_alias[al],
                              key=lambda a: a["revisions"][-1]["advisory_id"])
                exp = [a["avid"] for a in hits][:PAGE]
            requests.append(req)
            expected.append(exp)
    return requests, expected


def words(rng, n):
    return " ".join(rng.choice(WORDS) for _ in range(n))


def clean_text(rng):
    """A document that passes every quality rule: enough words, normal
    word lengths, diverse, and stop words present."""
    parts = []
    for _ in range(rng.randint(8, 14)):
        parts.append(words(rng, rng.randint(4, 8)))
        parts.append(rng.choice(STOPWORDS))
    return " ".join(parts)


def passes_quality(text):
    """The Gopher-style rules of the curation sink, with its defaults."""
    toks = text.split()
    if not 5 <= len(toks) <= 10000:
        return False
    mean = sum(len(t) for t in toks) / len(toks)
    return (2 <= mean <= 12 and len(set(toks)) / len(toks) >= 0.3
            and any(t in ("the", "a", "of", "el", "le", "der") for t in toks))


def make_stream(rng):
    """Micro-batches with planted exact duplicates, near duplicates,
    junk that fails quality, and verbatim copies of suite items."""
    suite = [{"doc_id": 10_000_000 + i, "text": clean_text(rng)}
             for i in range(SUITE_DOCS)]
    originals, batches = [], []
    exact, junk, copies = [], [], []
    doc_id = 0
    for _ in range(BATCHES):
        batch = []
        for _ in range(BATCH_DOCS):
            doc_id += 1
            roll = rng.random()
            if roll < 0.10 and originals:
                text = rng.choice(originals)
                exact.append(doc_id)
            elif roll < 0.18 and originals:
                toks = rng.choice(originals).split()
                for _ in range(2):
                    toks[rng.randrange(len(toks))] = rng.choice(WORDS)
                text = " ".join(toks)
            elif roll < 0.24:
                text = rng.choice([words(rng, 3), " ".join(
                    [rng.choice(WORDS)] * 12)])
                junk.append(doc_id)
            elif roll < 0.27:
                text = rng.choice(suite)["text"]
                copies.append(doc_id)
            else:
                text = clean_text(rng)
                originals.append(text)
            batch.append({"doc_id": doc_id, "text": text})
        batches.append(batch)
    offered = [[d["doc_id"] for d in b] for b in batches]
    passes = [d["doc_id"] for b in batches for d in b
              if passes_quality(d["text"])]
    expected = {"offered": offered, "passes": passes, "exact_dups": exact,
                "junk": junk, "suite_copies": copies}
    return suite, batches, expected


def write_lines(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r, sort_keys=True, separators=(",", ":")))
            f.write("\n")


def generate(workload, seed, out):
    """Write the inputs of ``workload`` for ``seed`` under ``out``."""
    rng = random.Random("{}:{}".format(workload, seed))
    os.makedirs(out, exist_ok=True)
    if workload == "purl_lookup":
        pkgs = make_packages(rng, PACKAGES)
        weights = zipf_weights(len(pkgs), rng)
        advisories = make_advisories(rng, ADVISORIES, pkgs, weights)
        write_dump(out, pkgs, advisories)
        requests, answers = make_requests(rng, pkgs, weights, advisories)
        write_lines(os.path.join(out, "requests.jsonl"), requests)
        expected = {"etl": advisory_expected(pkgs, advisories),
                    "responses": answers}
    elif workload == "curation_stream":
        suite, batches, expected = make_stream(rng)
        write_lines(os.path.join(out, "suite.jsonl"), suite)
        os.makedirs(os.path.join(out, "batches"))
        for i, b in enumerate(batches):
            write_lines(os.path.join(out, "batches",
                                     "b-{:05d}.jsonl".format(i)), b)
    else:
        raise ValueError("unknown workload " + workload)
    write_json(os.path.join(out, "expected.json"), expected)
