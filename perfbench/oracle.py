"""Answer checks: engine output against the generator's answers.

Every function takes plain Python values (rows already collected from
the store) and returns a list of problems, empty when the answer is
right, so the checks run without Spark.
"""

from __future__ import annotations

import json

from gen import Ocid, fields_checksum


def compiled_fields(doc: dict) -> dict:
    """The checked fields of one compiled release, read the way
    ``Ocid.merged_fields`` states them."""
    tender = doc.get("tender") or {}
    value = tender.get("value") or {}
    return {
        "ocid": doc.get("ocid"),
        "date": doc.get("date"),
        "buyer": (doc.get("buyer") or {}).get("name"),
        "status": tender.get("status"),
        "amount": value.get("amount"),
        "currency": value.get("currency"),
        "awards": sorted((a.get("id"), (a.get("value") or {}).get("amount"))
                         for a in doc.get("awards") or ()),
    }


def compiled_problems(docs: list[str], ocids: list[Ocid]) -> list[str]:
    """One problem per OCID whose compiled release is missing, repeated,
    unexpected, or differs from the generator in a checked field."""
    want = {o.ocid: fields_checksum(o.merged_fields()) for o in ocids}
    got: dict[str, list[str]] = {}
    for text in docs:
        f = compiled_fields(json.loads(text))
        got.setdefault(f["ocid"], []).append(fields_checksum(f))
    problems = []
    for ocid, sums in got.items():
        if ocid not in want:
            problems.append(f"compiled: unexpected OCID {ocid}")
        elif len(sums) != 1:
            problems.append(f"compiled: {len(sums)} compiled releases for {ocid}")
        elif sums[0] != want[ocid]:
            problems.append(f"compiled: merged fields differ for {ocid}")
    problems += [f"compiled: no compiled release for {o}"
                 for o in want if o not in got]
    return problems


def equal(name: str, got, want) -> list[str]:
    return [] if got == want else [f"{name}: got {got!r}, want {want!r}"]


def status_problems(status: dict, n_files: int, compiled: bool) -> list[str]:
    """collection_status of a finished root: completable, every file
    counted, no ERROR note, and a finished compiled child if one exists."""
    problems = []
    if not status.get("completable"):
        problems.append("status: root not completable")
    if status.get("collection_files") != n_files:
        problems.append(f"status: {status.get('collection_files')} files, want {n_files}")
    if status.get("error_notes"):
        problems.append(f"status: ERROR notes {status['error_notes'][:2]!r}")
    if compiled and not (status.get("compiled_collection") or {}).get("completed_at"):
        problems.append("status: compiled collection not finished")
    return problems
