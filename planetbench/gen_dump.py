"""Seeded OSM-like plain-format pg_dump generator.

The same seed and profile give a byte-identical dump.  Besides the dump the
generator returns the element counts every output must contain, computed
from the generated rows alone (never by running the program):

- current (planet XML/PBF): latest version of each id, visible, id > 0.
  Redactions are only placed on non-latest versions (as in OSM, where the
  redacted data is always history), so "not redacted" holds for every
  latest version.
- history (history XML/PBF): every version with id > 0 and no redaction.
- changesets: every changeset row.
- discussions: visible comments whose author is a public user.

What the dump covers on purpose:

- COPY headers in the column order of the production database, which
  differs from the canonical order (``way_nodes (way_id, node_id, version,
  sequence_id)``) and carries extra columns the engine must ignore;
- negative element ids (dropped by every output);
- tag keys whose UTF-8 byte order differs from locale order;
- way_nodes / relation_members rows written out of ``sequence_id`` order;
- comments by non-public users and invisible comments;
- changesets still open at the dump's data timestamp;
- COPY escapes: ``\\t \\n \\r \\\\``, hex and octal escapes, raw control
  characters and (in the escape-heavy profile) bodies of 64 KiB and more.
"""

from __future__ import annotations

import random
from dataclasses import dataclass
from datetime import datetime, timedelta


@dataclass(frozen=True)
class Profile:
    """Sizes and string mix of one generated dump."""

    users: int
    changesets: int
    nodes: int
    ways: int
    relations: int
    comments: int
    #: share of free-text fields (descriptions, tag values, comment bodies,
    #: roles) that carry at least one COPY escape
    escape_share: float
    #: share of comment bodies of 64 KiB or more
    huge_body_share: float
    changeset_tags: int  # tags per changeset, upper bound


PROFILES = {
    # elements dominate; changesets and comments are small
    "planet-full": Profile(
        users=300, changesets=2000, nodes=12000, ways=1500, relations=150,
        comments=400, escape_share=0.02, huge_body_share=0.0,
        changeset_tags=3,
    ),
    # large escape-heavy changeset and comment tables, a token element set
    "changesets-discussions": Profile(
        users=500, changesets=4000, nodes=200, ways=20, relations=5,
        comments=3000, escape_share=0.6, huge_body_share=0.004,
        changeset_tags=5,
    ),
}

EPOCH = datetime(2012, 1, 1)

#: keys whose UTF-8 byte order differs from a locale (case-folding,
#: accent-ignoring) order: 'Name' < 'name' < 'name:de' < 'name_1' < 'é' ...
TAG_KEYS = [
    "highway", "name", "Name", "name:de", "name_1", "name-2", "addr:street",
    "building", "source", "note", "Zebra", "amenity", "éclairage", "ñandú",
    "ключ", "名前", "a_b", "a-b", "A", "z",
]
WORDS = [
    "residential", "primary", "yes", "Main Street", "bus_stop", "Straße",
    "café", "Ελλάδα", "東京", "survey", "bing", "trunk", "house", "tree",
]
CONTROL = "\x01\x02\x07\x08\x0b\x0c\x1b\x1f"


def copy_escape(s: str) -> str:
    """Render a string as a COPY text field, the way pg_dump writes it."""
    return (
        s.replace("\\", "\\\\")
        .replace("\t", "\\t")
        .replace("\n", "\\n")
        .replace("\r", "\\r")
        .replace("\b", "\\b")
        .replace("\f", "\\f")
        .replace("\v", "\\v")
    )


def _ts(seconds: int) -> str:
    return (EPOCH + timedelta(seconds=seconds)).strftime("%Y-%m-%d %H:%M:%S")


class _Gen:
    def __init__(self, seed: int, p: Profile):
        self.r = random.Random(seed)
        self.p = p

    def text(self, words: int, escaped: bool) -> str:
        """A free-text field already in COPY form (escapes applied)."""
        r = self.r
        s = " ".join(r.choice(WORDS) for _ in range(words))
        if not escaped:
            return copy_escape(s)
        kind = r.randrange(6)
        if kind == 0:
            s = s.replace(" ", "\t", 1) + "\nsecond line"
        elif kind == 1:
            s = s + " C:\\path\\to"
        elif kind == 2:
            s = s + "\r\n<b>&amp;\"quoted\""
        elif kind == 3:
            # raw control characters are legal COPY data
            s = s + r.choice(CONTROL) + "ctl"
        out = copy_escape(s)
        if kind == 4:
            out += "\\x41\\x7e"  # hex escapes
        elif kind == 5:
            out += "\\101\\176"  # octal escapes
        return out

    def field_text(self, words: int) -> str:
        return self.text(words, self.r.random() < self.p.escape_share)

    def body(self) -> str:
        r = self.r
        if r.random() < self.p.huge_body_share:
            # >= 64 KiB bodies with escapes spread through them
            chunk = copy_escape("long discussion line\twith tab\n") + "\\x21"
            reps = (65536 // len(chunk)) + 1 + r.randrange(200)
            return chunk * reps
        return self.field_text(r.randrange(3, 40))

    def tags(self, n: int) -> list[tuple[str, str]]:
        keys = self.r.sample(TAG_KEYS, n)
        return [(copy_escape(k), self.field_text(self.r.randrange(1, 4))) for k in keys]


def _versions(r: random.Random) -> int:
    """1 + geometric: mean about 1.4 versions per element."""
    v = 1
    while r.random() < 0.29:
        v += 1
    return v


def generate(path: str, seed: int, profile: str) -> dict:
    """Write the dump for (seed, profile) to ``path``; return the expected
    counts."""
    p = PROFILES[profile]
    g = _Gen(seed, p)
    r = g.r
    expected = {
        "current": {"nodes": 0, "ways": 0, "relations": 0},
        "history": {"nodes": 0, "ways": 0, "relations": 0},
        "changesets": p.changesets,
        "comments_visible_public": 0,
    }
    sections: list[tuple[str, str, list[str]]] = []

    # users: (email, id, pass_crypt, creation_time, display_name,
    # data_public, description) — email/pass/description are ignored
    public = {}
    rows = []
    for uid in range(1, p.users + 1):
        public[uid] = r.random() < 0.8
        name = copy_escape(f"user {uid} {r.choice(WORDS)}")
        rows.append(
            "\t".join([
                f"u{uid}@example.org", str(uid), "x", _ts(uid),
                name, "t" if public[uid] else "f", g.field_text(4),
            ])
        )
    sections.append((
        "users",
        "email, id, pass_crypt, creation_time, display_name, data_public, "
        "description",
        rows,
    ))

    # changesets: created every ~10 min; the last few stay open past the
    # data timestamp (closed_at beyond every other timestamp)
    span = p.changesets * 600
    cs_created = {}
    rows = []
    for cid in range(1, p.changesets + 1):
        created = cid * 600 + r.randrange(600)
        cs_created[cid] = created
        still_open = cid > p.changesets - max(2, p.changesets // 500)
        closed = span + 86400 * 30 if still_open else created + r.randrange(60, 3600)
        if r.random() < 0.1:
            bbox = ["\\N"] * 4
        else:
            lat = r.randrange(-900000000, 890000000)
            lon = r.randrange(-1800000000, 1790000000)
            bbox = [str(lat), str(lat + r.randrange(1, 9999999)),
                    str(lon), str(lon + r.randrange(1, 9999999))]
        rows.append("\t".join([
            str(cid), str(r.randrange(1, p.users + 1)), _ts(created),
            bbox[0], bbox[1], bbox[2], bbox[3], _ts(closed),
            str(r.randrange(0, 500)),
        ]))
    sections.append((
        "changesets",
        "id, user_id, created_at, min_lat, max_lat, min_lon, max_lon, "
        "closed_at, num_changes",
        rows,
    ))

    rows = []
    for cid in range(1, p.changesets + 1):
        for k, v in g.tags(r.randrange(0, p.changeset_tags + 1)):
            rows.append(f"{cid}\t{k}\t{v}")
    sections.append(("changeset_tags", "changeset_id, k, v", rows))

    rows = []
    for i in range(1, p.comments + 1):
        cid = r.randrange(1, p.changesets + 1)
        author = r.randrange(1, p.users + 1)
        visible = r.random() < 0.95
        if visible and public[author]:
            expected["comments_visible_public"] += 1
        created = cs_created[cid] + r.randrange(1, 86400)
        rows.append("\t".join([
            str(i), str(cid), str(author), g.body(),
            _ts(min(created, span)) + f".{r.randrange(1000000):06d}",
            "t" if visible else "f",
        ]))
    sections.append((
        "changeset_comments",
        "id, changeset_id, author_id, body, created_at, visible",
        rows,
    ))

    def element_versions(n_pos: int, n_neg: int, kind: str):
        """Yield (id, version, is_latest, visible, redaction, ts, cs) rows
        and keep the expected counts."""
        ids = list(range(-n_neg, 0)) + list(range(1, n_pos + 1))
        for eid in ids:
            nv = _versions(r)
            deleted = r.random() < 0.05
            ts = r.randrange(span)
            for v in range(1, nv + 1):
                latest = v == nv
                visible = not (latest and deleted)
                redacted = (not latest) and r.random() < 0.01
                ts += r.randrange(1, 86400)
                if eid > 0:
                    if not redacted:
                        expected["history"][kind] += 1
                    if latest and visible:
                        expected["current"][kind] += 1
                yield (
                    eid, v, visible, "1" if redacted else "\\N",
                    _ts(min(ts, span)), r.randrange(1, p.changesets + 1),
                )

    def tagged(prob: float, most: int) -> list[tuple[str, str]]:
        return g.tags(r.randrange(1, most + 1)) if r.random() < prob else []

    # nodes (node_id, latitude, longitude, changeset_id, visible,
    # "timestamp", tile, version, redaction_id)
    rows, tag_rows = [], []
    for eid, v, vis, red, ts, cs in element_versions(p.nodes, 3, "nodes"):
        lat = r.randrange(-900000000, 900000000)
        lon = r.randrange(-1800000000, 1800000000)
        rows.append("\t".join([
            str(eid), str(lat), str(lon), str(cs), "t" if vis else "f", ts,
            str(r.randrange(1 << 32)), str(v), red,
        ]))
        for k, val in tagged(0.3, 3):
            tag_rows.append(f"{eid}\t{v}\t{k}\t{val}")
    sections.append((
        "nodes",
        'node_id, latitude, longitude, changeset_id, visible, "timestamp", '
        "tile, version, redaction_id",
        rows,
    ))
    sections.append(("node_tags", "node_id, version, k, v", tag_rows))

    # ways + way_nodes (sequence_id written out of order) + way_tags
    rows, nd_rows, tag_rows = [], [], []
    for eid, v, vis, red, ts, cs in element_versions(p.ways, 2, "ways"):
        rows.append("\t".join([str(eid), str(cs), ts, str(v), "t" if vis else "f", red]))
        seqs = list(range(1, r.randrange(2, 12)))
        r.shuffle(seqs)
        for s in seqs:
            nd_rows.append(f"{eid}\t{r.randrange(1, p.nodes + 1)}\t{v}\t{s}")
        for k, val in tagged(0.9, 4):
            tag_rows.append(f"{eid}\t{k}\t{val}\t{v}")
    sections.append((
        "ways", 'way_id, changeset_id, "timestamp", version, visible, redaction_id',
        rows,
    ))
    sections.append(("way_nodes", "way_id, node_id, version, sequence_id", nd_rows))
    sections.append(("way_tags", "way_id, k, v, version", tag_rows))

    rows, mem_rows, tag_rows = [], [], []
    for eid, v, vis, red, ts, cs in element_versions(p.relations, 1, "relations"):
        rows.append("\t".join([str(eid), str(cs), ts, str(v), "t" if vis else "f", red]))
        seqs = list(range(1, r.randrange(2, 15)))
        r.shuffle(seqs)
        for s in seqs:
            mtype = r.choice(["Node", "Way", "Way", "Relation"])
            bound = {"Node": p.nodes, "Way": p.ways, "Relation": p.relations}[mtype]
            role = g.field_text(1) if r.random() < 0.7 else ""
            mem_rows.append(
                f"{eid}\t{mtype}\t{r.randrange(1, bound + 1)}\t{role}\t{v}\t{s}"
            )
        for k, val in tagged(1.0, 4):
            tag_rows.append(f"{eid}\t{k}\t{val}\t{v}")
    sections.append((
        "relations",
        'relation_id, changeset_id, "timestamp", version, visible, redaction_id',
        rows,
    ))
    sections.append((
        "relation_members",
        "relation_id, member_type, member_id, member_role, version, sequence_id",
        mem_rows,
    ))
    sections.append(("relation_tags", "relation_id, k, v, version", tag_rows))

    with open(path, "w", encoding="utf-8", newline="\n") as out:
        out.write(
            "--\n-- PostgreSQL database dump\n--\n\n"
            "SET statement_timeout = 0;\nSET client_encoding = 'UTF8';\n"
            "SET standard_conforming_strings = on;\n\n"
        )
        for table, cols, body in sections:
            out.write(f"--\n-- Data for Name: {table}; Type: TABLE DATA\n--\n\n")
            out.write(f"COPY public.{table} ({cols}) FROM stdin;\n")
            for line in body:
                out.write(line)
                out.write("\n")
            out.write("\\.\n\n\n")
        out.write("--\n-- PostgreSQL database dump complete\n--\n\n")
    return expected

