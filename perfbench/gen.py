"""Seeded input generators for the benchmark's ingest workload.

* `comics_batch(rng, ...)` writes one Marvel-API-shaped newline-delimited
  JSON batch (1-6 creators per comic, re-deliveries with changed mutable
  fields, a few malformed lines); `warehouse_expect` turns the batches'
  accumulated credits into the table sizes a correct ingest must produce.

Everything is a pure function of its seed.
"""

import datetime as dt
import json


FIRST = ["Stan", "Jack", "Steve", "John", "Chris", "Walt", "Frank", "Ann",
         "Kelly", "Jim", "Gail", "Marie", "Louise", "Brian", "Mark", "Ed"]
LAST = ["Lee", "Kirby", "Ditko", "Romita", "Claremont", "Simonson", "Miller",
        "Nocenti", "Thompson", "Starlin", "Simone", "Severin", "Bendis", "Bagley"]
ROLES = ["writer", "penciller", "inker", "colorist", "letterer", "editor"]
SERIES = ["Amazing Tales", "Uncanny Stories", "Astonishing Saga", "Mighty Sagas",
          "Tales of Wonder", "Strange Journeys", "Fantastic Voyages", "Secret Wars"]


def _comic(rng, cid, price_bump):
    series = SERIES[cid % len(SERIES)]
    issue = cid // len(SERIES) + 1
    n_creators = int(rng.integers(1, 7))
    picks = rng.choice(len(FIRST) * len(LAST), n_creators, replace=False)
    creators = [{"name": f"{FIRST[p % len(FIRST)]} {LAST[p // len(FIRST)]}",
                 "role": ROLES[int(rng.integers(0, len(ROLES)))]} for p in picks]
    day = dt.date(2000, 1, 1) + dt.timedelta(days=int(cid % 7000))
    variant = cid % 11 == 0
    return {
        "id": cid,
        "title": f"{series} #{issue}" + (" (Variant)" if variant else ""),
        "issueNumber": str(issue),
        "description": f"Issue {issue} of {series}.",
        "dates": [{"type": "onsaleDate", "date": f"{day.isoformat()}T00:00:00-0500"}],
        "prices": [{"type": "printPrice", "price": round(2.99 + (cid % 5) + price_bump, 2)}],
        "creators": {"items": creators},
        "thumbnail": {"path": f"http://i.example/c/{cid}", "extension": "jpg"},
        "variantDescription": "Variant cover" if variant else "",
    }


def comics_batch(rng, path, batch_ix, n_comics, seen, redeliver_frac=0.2, n_bad=3):
    """Write one landed comics batch; update `seen` (comic id -> creator
    credit set) and return the batch's valid and malformed line counts."""
    n_re = int(n_comics * redeliver_frac) if seen else 0
    re_ids = sorted(rng.choice(sorted(seen), n_re, replace=False).tolist()) if n_re else []
    new_ids = [batch_ix * 1_000_000 + k for k in range(n_comics - n_re)]
    lines = []
    for cid in new_ids:
        doc = _comic(rng, cid, 0.0)
        seen[cid] = {(c["name"], c["role"]) for c in doc["creators"]["items"]}
        lines.append(json.dumps(doc))
    for cid in re_ids:
        # a re-delivery: same comic, changed price (a mutable field), and
        # possibly new credits (the bridge only ever grows)
        doc = _comic(rng, cid, float(batch_ix))
        seen[cid] |= {(c["name"], c["role"]) for c in doc["creators"]["items"]}
        lines.append(json.dumps(doc))
    order = rng.permutation(len(lines))
    lines = [lines[k] for k in order]
    for k in range(n_bad):
        lines.insert(int(rng.integers(0, len(lines) + 1)), "{malformed comic line %d" % k)
    data = ("\n".join(lines) + "\n").encode()
    with open(path, "wb") as f:
        f.write(data)
    return {"valid_lines": n_comics, "bad_lines": n_bad}


def warehouse_expect(seen, n_bad_total):
    """Table sizes a correct warehouse holds after ingesting every batch."""
    credits = set()
    for cid, cs in seen.items():
        credits |= {(cid, n, r) for n, r in cs}
    return {"issue": len(seen),
            "creator": len({n for _, n, _ in credits}),
            "issue_creator": len(credits),
            "quarantine": n_bad_total}
