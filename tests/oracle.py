"""Pure-Python reference replay: the correctness oracle for the engine.

Replays raw generated events strictly in offset order, one at a time, with
the semantics the reference connector's consumer observes after the
flatten SMT: upserts merge changed columns, deletes/tombstones remove the
row, PK updates move the row, DDL adds/renames columns. The Spark engine
(batch fold + MERGE) must produce the identical final state, including
per-row sha256(content) — the BASELINE per-row invariant.
"""

from __future__ import annotations

import hashlib
import json

UPSERT = {"c", "r", "u"}
DELETE = {"d", "t"}
SKIP = {"SAFEPOINT", "NOOP", "BEGIN", "COMMIT", "m"}


def sha256(s: str | None) -> str | None:
    return hashlib.sha256(s.encode()).hexdigest() if s is not None else None


def replay(event_rows, initial_columns=("commit", "lang", "content")):
    """Return ({(repo, path): {col: value}}, known_columns) after full replay."""
    evs = sorted(event_rows, key=lambda r: (r["term"], r["index"], r["write_id"]))
    cols = list(initial_columns)
    state: dict[tuple[str, str], dict] = {}

    def upsert(key, payload):
        row = state.setdefault(key, {})
        after = payload.get("after") or {}
        for c in payload.get("changed") or []:
            if c in cols:
                row[c] = after.get(c)

    for r in evs:
        op = r["op"]
        if op in SKIP or r.get("table", "public.repo_files") != "public.repo_files":
            continue
        p = json.loads(r["payload"]) if r.get("payload") else {}
        if op == "ddl":
            if p.get("action") == "add_column" and p["name"] not in cols:
                cols.append(p["name"])
            elif p.get("action") == "rename_column":
                old, new = p["old"], p["new"]
                if old in cols:
                    cols[cols.index(old)] = new
                    for row in state.values():
                        if old in row:
                            row[new] = row.pop(old)
            continue
        key = (r["repo"], r["path"])
        if op in DELETE:
            state.pop(key, None)
        elif op == "pku":
            bk = p.get("before_key") or {}
            state.pop((bk.get("repo"), bk.get("path")), None)
            upsert(key, p)  # split CREATE carries a full image
        elif op in UPSERT:
            upsert(key, p)
    # normalize: fill missing columns with None, attach sha
    final = {}
    for key, row in state.items():
        out = {c: row.get(c) for c in cols}
        out["content_sha256"] = sha256(out.get("content"))
        final[key] = out
    return final, cols


def key_offsets(event_rows) -> dict:
    """{key: max offset} over the DML rows, as the sink stores offsets:
    ``split_pk_updates`` doubles every ``write_id`` and turns a PK update
    into a delete of the old key at ``2w`` plus a create of the new key at
    ``2w + 1``. Deletes count too — the sink keeps a deleted key's offset
    on its tombstone row."""
    out: dict[tuple[str, str], tuple[int, int, int]] = {}

    def bump(key, off):
        if key not in out or off > out[key]:
            out[key] = off

    for r in event_rows:
        op = r["op"]
        if op not in UPSERT | DELETE | {"pku"}:
            continue
        term, index, w = r["term"], r["index"], 2 * r["write_id"]
        if op == "pku":
            bk = json.loads(r["payload"]).get("before_key") or {}
            bump((bk.get("repo"), bk.get("path")), (term, index, w))
            w += 1
        bump((r["repo"], r["path"]), (term, index, w))
    return out


def window_counts(before_rows, window_rows, initial_columns=("commit", "lang", "content")):
    """Expected stats of merging ``window_rows`` into a table that has
    merged ``before_rows``. A key counts when the window holds an event
    newer than the key's stored offset (``key_offsets`` of everything
    merged before). It is ``upserted`` if it ends the window live, and
    ``deleted`` if it was live before and ends dead. ``overwritten`` is the
    number of counted keys the table already stored: the stored rows of
    the touched buckets that are not overwritten are the ``carried``
    ones."""
    stored = key_offsets(before_rows)
    newer = {
        k
        for k, off in key_offsets(window_rows).items()
        if k not in stored or off > stored[k]
    }
    live_before, _ = replay(before_rows, initial_columns)
    live_after, _ = replay(list(before_rows) + list(window_rows), initial_columns)
    return {
        "upserted": sum(k in live_after for k in newer),
        "deleted": sum(k in live_before and k not in live_after for k in newer),
        "overwritten": sum(k in stored for k in newer),
    }


def engine_state(table) -> dict:
    """Collect a LakeTable's current state into the oracle's shape."""
    cols = [n for n, _ in table.columns]
    rows = table.read(with_meta=True).collect()
    out = {}
    for r in rows:
        d = r.asDict()
        key = (d.pop("repo"), d.pop("path"))
        out[key] = {c: d.get(c) for c in cols}
        out[key]["content_sha256"] = d.get("content_sha256")
    return out
