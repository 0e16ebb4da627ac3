"""Seeded OCDS input generator for the benchmark.

Every input file the engine sees is written here, and every answer the
benchmark checks the engine against is computed here from the generator's
own plan, never from engine output. The same seed gives byte-identical
files and identical answers.

One OCID's releases follow a fixed script: release k carries a unique,
increasing date, the OCID's buyer, a tender whose status and value change
over time, and one award from a small rotating set of award ids. The
compiled release of an OCID is therefore fully determined by the script:
the last release's tender, the buyer, and for each award id the value
carried by the last release that mentions it.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta
from decimal import Decimal

CURRENCIES = ("USD", "EUR", "GBP", "MXN")
N_BUYERS = 40
AWARD_SLOTS = 3
FINAL_STATUSES = ("complete", "active", "cancelled")
# planted schema error: a string where the schema requires a number
BAD_AMOUNT = "not-a-number"
_EPOCH = datetime(2019, 1, 1)
LICENSE = "https://creativecommons.org/licenses/by/4.0/"
POLICY = "https://example.com/policy"


@dataclass
class Ocid:
    """One OCID's generation plan and the answers derived from it."""
    ocid: str
    buyer: str
    currency: str
    releases: list[dict]
    # ids of releases delivered a second time, byte for byte
    repeated: list[str] = field(default_factory=list)

    @property
    def last(self) -> dict:
        return self.releases[-1]

    def merged_fields(self) -> dict:
        """The compiled release's checked fields, from the script alone."""
        awards: dict[str, int] = {}
        for r in self.releases:
            for a in r.get("awards", ()):
                awards[a["id"]] = a["value"]["amount"]
        last = self.last
        return {
            "ocid": self.ocid,
            "date": last["date"],
            "buyer": self.buyer,
            "status": last["tender"]["status"],
            "amount": last["tender"]["value"]["amount"],
            "currency": self.currency,
            "awards": sorted(awards.items()),
        }


def fields_checksum(fields: dict) -> str:
    """md5 of the checked merged fields; the oracle hashes what it reads
    back from the compiled release with this same function."""
    return hashlib.md5(json.dumps(fields, sort_keys=True, default=str)
                       .encode()).hexdigest()


@dataclass
class Collection:
    """Files of one collection plus the answers the benchmark checks."""
    files: list[str]
    n_releases: int
    input_bytes: int
    ocids: list[Ocid]
    n_distinct: int = 0
    # ids of the releases that carry a planted schema error
    error_ids: list[str] = field(default_factory=list)


def _prefix(rnd: random.Random) -> str:
    return "ocds-" + "".join(rnd.choice("abcdefghijklmnopqrstuvwxyz0123456789")
                             for _ in range(6))


def _iso(minutes: int) -> str:
    return (_EPOCH + timedelta(minutes=minutes)).strftime("%Y-%m-%dT%H:%M:%SZ")


def _org(bid: str, name: str, version: str) -> dict:
    if version == "1.0":
        return {"identifier": {"scheme": "XX-BENCH", "id": bid}, "name": name}
    return {"id": bid, "name": name}


def ocid_script(rnd: random.Random, ocid: str, n: int, version: str = "1.1") -> Ocid:
    """n releases of one OCID with unique, increasing dates."""
    b = rnd.randrange(N_BUYERS)
    buyer, buyer_name = f"buyer-{b:03d}", f"Buyer {b}"
    currency = rnd.choice(CURRENCIES)
    start = rnd.randrange(0, 700 * 24 * 60)
    step = rnd.randrange(1, 90)
    final = rnd.choice(FINAL_STATUSES)
    releases = []
    for k in range(n):
        r = {
            "ocid": ocid,
            "id": f"{ocid}-{k:05d}",
            "date": _iso(start + k * step),
            "tag": ["tender"] if k == 0 else ["tenderUpdate", "award"],
            "initiationType": "tender",
            "buyer": _org(buyer, buyer_name, version),
            "tender": {
                "id": f"{ocid}-tender",
                "status": final if k == n - 1 else "active",
                "value": {"amount": rnd.randrange(1_000, 10_000_000),
                          "currency": currency},
            },
            "awards": [{
                "id": f"{ocid}-award-{k % AWARD_SLOTS}",
                "status": "active",
                "value": {"amount": rnd.randrange(1_000, 10_000_000),
                          "currency": currency},
            }],
        }
        if version == "1.0":
            s = rnd.randrange(200)
            r["awards"][0]["suppliers"] = [
                _org(f"supplier-{s:03d}", f"Supplier {s}", version)]
        else:
            r["parties"] = [{"id": buyer, "name": buyer_name, "roles": ["buyer"]}]
        releases.append(r)
    return Ocid(ocid, buyer_name, currency, releases)


def _package(releases: list[dict], version: str) -> dict:
    pkg = {
        "uri": "https://example.com/ocds/bench",
        "publishedDate": "2021-06-01T00:00:00Z",
        "publisher": {"name": "Benchmark publisher"},
        "license": LICENSE,
        "publicationPolicy": POLICY,
    }
    if version != "1.0":
        pkg["version"] = version
    pkg["releases"] = releases
    return pkg


def _write_files(out_dir: str, name: str, chunks: list[list[dict]],
                 version: str) -> tuple[list[str], int]:
    os.makedirs(out_dir, exist_ok=True)
    paths, total = [], 0
    for i, chunk in enumerate(chunks):
        p = os.path.join(out_dir, f"{name}-{i:03d}.json")
        text = json.dumps(_package(chunk, version), separators=(",", ":"))
        with open(p, "w") as f:
            f.write(text)
        paths.append(p)
        total += len(text.encode())
    return paths, total


def _split(items: list, n_files: int) -> list[list]:
    return [items[i::n_files] for i in range(n_files)]


def _small_counts(rnd: random.Random, total: int, mean: int) -> list[int]:
    """Releases-per-OCID counts of 1..2*mean-1 summing exactly to total."""
    counts = []
    while total > 0:
        n = min(total, rnd.randrange(1, 2 * mean))
        counts.append(n)
        total -= n
    return counts


def skewed_counts(rnd: random.Random, n_releases: int, hot: list[int]) -> list[int]:
    """Hot OCIDs first, then a heavy tail: most OCIDs carry one to a few
    releases and a few carry up to 89, far below one merge batch even with
    repeats."""
    counts = list(hot)
    left = n_releases - sum(hot)
    while left > 0:
        n = min(int(1 / max(rnd.random(), 0.0025) ** 0.75), left)
        counts.append(n)
        left -= n
    return counts


def crawl(seed: int, out_dir: str, n_unique: int, hot: list[int],
          n_files: int) -> Collection:
    """OCDS 1.1 release packages as a crawler delivers them: a heavy
    releases-per-OCID tail led by the ``hot`` OCIDs, and a third of all
    releases byte-identical repeats of another release (n_unique distinct
    plus n_unique // 2 repeats, each repeated once)."""
    rnd = random.Random(f"crawl:{seed}")
    prefix = _prefix(rnd)
    ocids = [ocid_script(rnd, f"{prefix}-{i:06d}", n)
             for i, n in enumerate(skewed_counts(rnd, n_unique, hot))]
    releases = [r for o in ocids for r in o.releases]
    repeats = [releases[i] for i in rnd.sample(range(len(releases)), n_unique // 2)]
    by_ocid = {o.ocid: o for o in ocids}
    for r in repeats:
        by_ocid[r["ocid"]].repeated.append(r["id"])
    allrel = releases + repeats
    rnd.shuffle(allrel)
    files, nbytes = _write_files(out_dir, "crawl", _split(allrel, n_files), "1.1")
    return Collection(files, len(allrel), nbytes, ocids, n_distinct=len(releases))


def open_waves(seed: int, out_dir: str, n_waves: int, per_wave: int,
               error_every: int) -> Collection:
    """OCDS 1.0 release packages, one file per wave; about one release in
    ``error_every`` carries a planted schema error."""
    rnd = random.Random(f"open_waves:{seed}")
    prefix = _prefix(rnd)
    ocids = [ocid_script(rnd, f"{prefix}-{i:06d}", n, version="1.0")
             for i, n in enumerate(_small_counts(rnd, n_waves * per_wave, 3))]
    releases = [r for o in ocids for r in o.releases]
    rnd.shuffle(releases)
    planted = rnd.sample(range(len(releases)), len(releases) // error_every)
    for i in planted:
        releases[i]["tender"]["value"]["amount"] = BAD_AMOUNT
    files, nbytes = _write_files(out_dir, "wave", _split(releases, n_waves), "1.0")
    return Collection(files, len(releases), nbytes, ocids,
                      error_ids=sorted(releases[i]["id"] for i in planted))


# -- analyst answers -------------------------------------------------------

def top_buyers(ocids: list[Ocid], k: int = 10) -> list[tuple[str, str, Decimal]]:
    """(buyer, currency, total merged award value), largest first."""
    totals: dict[tuple[str, str], int] = {}
    for o in ocids:
        f = o.merged_fields()
        key = (f["buyer"], f["currency"])
        totals[key] = totals.get(key, 0) + sum(a for _, a in f["awards"])
    ranked = sorted(totals.items(), key=lambda kv: (-kv[1], kv[0]))
    return [(b, c, Decimal(v)) for (b, c), v in ranked[:k]]


def tender_value_by_currency(ocids: list[Ocid]) -> dict[str, Decimal]:
    """Total compiled tender value of completed tenders per currency."""
    out: dict[str, int] = {}
    for o in ocids:
        f = o.merged_fields()
        if f["status"] == "complete" and isinstance(f["amount"], int):
            out[f["currency"]] = out.get(f["currency"], 0) + f["amount"]
    return {c: Decimal(v) for c, v in out.items()}


def published_range(ocids: list[Ocid]) -> tuple[str, str]:
    """The metadata endpoint's date range over compiled releases."""
    dates = [o.last["date"] for o in ocids]
    return min(dates), max(dates)
