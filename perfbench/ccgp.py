"""Seeded CCGP-shaped world for the ``daily_sync`` workload.

Builds the state a long-running deployment has reached (projects, a
species lookup, ``samples`` and ``reads`` tables already in sync, a
ledger of the sheets that produced the samples) plus a stream of daily
deliveries: submitted sample sheets, new object-store
keys and an NCBI BioSample accession file. The object listing, the
drive listing and the accession file are cumulative, so each cycle
re-delivers every earlier input along with the new ones. Every branch the daily
pipelines handle is planted (FIXTURES.md): ``_``/``-``/``.`` separator
variants and the id-variant tiers, comma multi-id samples, files two
samples claim (conflicts), orphans, non-``.gz`` files, unsequenced
samples, ``""``/``"NaN"`` array pollution, the raw ``lat_lon`` zoo,
genus-only and unknown organisms, and a malformed sheet.

The generator also keeps the truth it planted: which sample owns each
file, which files stay orphans, each sample's project and accession.
:meth:`World.expected` returns that truth after any number of days.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

GENERA = [
    "Hyla", "Rana", "Neotoma", "Sorex", "Anaxyrus", "Batrachoseps", "Plethodon",
    "Aneides", "Ensatina", "Dicamptodon", "Taricha", "Sceloporus", "Elgaria",
    "Xantusia", "Lampropeltis", "Thamnophis", "Crotalus", "Charina", "Emys",
    "Dipodomys", "Perognathus", "Microtus", "Tamias", "Otospermophilus",
    "Aplodontia", "Ochotona", "Lepus", "Sylvilagus", "Vulpes", "Urocyon",
    "Bassariscus", "Spilogale", "Taxidea", "Martes", "Pekania", "Gulo",
    "Brachycybe", "Hesperocyparis", "Pinus", "Quercus", "Arctostaphylos",
    "Ceanothus", "Eriogonum", "Calochortus", "Lupinus", "Castilleja",
    "Mimulus", "Clarkia", "Oncorhynchus", "Gila", "Catostomus", "Cottus",
    "Gasterosteus", "Lavinia", "Margaritifera", "Anodonta", "Haliotis",
    "Helminthoglypta", "Euphydryas", "Speyeria", "Bombus", "Apodemia",
]
EPITHETS = [
    "regilla", "draytonii", "fuscipes", "ornatus", "boreas", "attenuatus",
    "elongatus", "lugubris", "eschscholtzii", "tenebrosus", "torosa",
    "occidentalis", "multicarinata", "vigilis", "zonata", "sirtalis",
    "oreganus", "bottae", "marmorata", "heermanni", "inornatus", "californicus",
    "merriami", "beecheyi", "rufa", "princeps", "americanus", "bachmani",
]
TISSUES = ["muscle", "liver", "leaf", "whole body", "fin clip", "toe clip"]
# genera with exactly one project: an unlisted species of one of these
# falls back to that project (a genus with several projects would make
# the fallback pick one arbitrarily)
SINGLE_GENERA = [
    "Ambystoma", "Spea", "Scaphiopus", "Rhyacotriton", "Ascaphus", "Contia",
    "Diadophis", "Lichanura", "Anniella", "Phrynosoma",
]
SUBSPECIES = ["pacifica", "sierrae", "californiae", "oregonensis", "nigra", "major"]
SEPS = ["_", "-", "."]

# Sizes. Only N_PROJECTS and LOOKUP_ROWS come from the reference
# (BASELINE.md: sheet ranges pinned to rows 1-158; the 251-line
# project_ids_species.csv). The reference publishes no traffic figures,
# so the deployment size and every per-day volume below are assumptions.
N_PROJECTS = 157
LOOKUP_ROWS = 251
N_SAMPLES = 5_000
N_DAYS = 2
SHEETS_PER_DAY = 2
SAMPLES_PER_SHEET = 60
RESEQUENCED_PER_DAY = 40  # samples that get one more lane
UNCLAIMED_PER_DAY = 30  # new object keys no sample claims
ACCESSIONS_PER_DAY = 100  # BioSample accessions for samples without one
FOREIGN_ACCESSIONS_PER_DAY = 10  # accession rows for samples never seen
# the submitted sheets the base samples came from, all in the ledger
HISTORY_SHEETS = [f"sheet_h{k:03d}.tsv" for k in range(-(-N_SAMPLES // SAMPLES_PER_SHEET))]

BASE_TIME = datetime(2023, 1, 2, tzinfo=timezone.utc)
SHEET_HEADER = [
    "*sample_name", "*organism", "lat_lon", "collection_date",
    "minicore_seq_id", "minicore_sequenced", "project_type", "tissue",
]


@dataclass
class Sample:
    name: str
    organism: str
    project: str
    expected_species: int
    ids: str | None
    sequenced: str | None
    files: list[str] | None  # the array as stored (may carry pollution)
    accession: str | None = None
    bioproject: str | None = None


@dataclass
class ReadFile:
    size: int
    mdate: datetime
    owner: str | None  # planted owner; None = stays an orphan


@dataclass
class Day:
    sheets: list[tuple[str, list[list[str]] | None]]  # (file name, rows); None = malformed
    keys: list[str]  # object keys first listed this day
    accessions: list[tuple[str, str, str]]  # first sent this day: (raw name, SAMN, PRJNA)


@dataclass
class World:
    lookup: list[tuple[str, str, str]]  # (genus_species, genus, project_id)
    samples: dict[str, Sample]
    files: dict[str, ReadFile]
    days: list[Day] = field(default_factory=list)
    n_base_files: int = 0

    # -- ground truth --------------------------------------------------

    def expected(self, n_days: int) -> dict:
        """Truth after ``n_days`` daily cycles have run (idempotent, so
        re-running a day does not change it)."""
        samples = {n: _copy(s) for n, s in self.samples.items() if not _is_new(s)}
        files = dict(list(self.files.items())[: self.n_base_files])
        lookup = {gs: p for gs, _g, p in self.lookup}
        by_genus = {g: p for _gs, g, p in self.lookup}
        ingest = []
        broken = 0
        for d in self.days[:n_days]:
            ok = 0
            for _fname, rows in d.sheets:
                if rows is None:  # failed sheets are retried every day
                    broken += 1
                    continue
                ok += 1
                for r in rows:
                    s = self.samples[_clean(r[0])]
                    samples[s.name] = _copy(s)
            ingest.append((ok, broken))
            for k in d.keys:
                files[k] = self.files[k]
            for raw, acc, bp in d.accessions:
                name = _clean(raw)
                if name in samples:
                    samples[name].accession, samples[name].bioproject = acc, bp
        for s in samples.values():
            if _is_new(s):
                two = " ".join(s.organism.split()[:2])
                genus = s.organism.split()[0]
                s.project = lookup.get(two) or by_genus.get(genus) or "Unknown project-id"
                s.expected_species = int(two in lookup)
        owned: dict[str, list[str]] = {}
        for k, f in files.items():
            if f.owner is not None:
                owned.setdefault(f.owner, []).append(k)
        for name, ks in owned.items():
            samples[name].files = sorted(ks)
        summary: dict[str, list[int]] = {}
        for s in samples.values():
            row = summary.setdefault(s.project, [0, 0])
            row[0] += 1
            row[1] += int(bool(s.files))
        return {
            "samples": samples,
            "owner": {k: f.owner for k, f in files.items()},
            "filesize_sum": {
                n: sum(files[k].size for k in ks) for n, ks in owned.items()
            },
            "summary": summary,
            "ingest": ingest,
            "linked_samples": len(owned),
            "linked_files": sum(len(v) for v in owned.values()),
        }

    def touched(self, day: int) -> tuple[set[str], set[str]]:
        """Sample names and object keys that day ``day``'s new inputs
        touch. Every other row must come out of that day's cycle as it
        went in: the re-delivered inputs must change nothing."""
        d = self.days[day - 1]
        names = {_clean(r[0]) for _f, rows in d.sheets if rows for r in rows}
        names |= {self.files[k].owner for k in d.keys if self.files[k].owner}
        names |= {_clean(raw) for raw, _acc, _bp in d.accessions}
        return names, set(d.keys)

    # -- on-disk inputs ------------------------------------------------

    def write_base(self, out: str) -> None:
        """Initial ``samples`` / ``reads`` tables, lookup CSV, and the
        ledger holding the history sheets as processed."""
        os.makedirs(out, exist_ok=True)
        base = [s for s in self.samples.values() if not _is_new(s)]
        pq.write_table(_samples_table(base),
                       os.path.join(_mkdir(os.path.join(out, "samples")), "part-0.parquet"))
        items = list(self.files.items())[: self.n_base_files]
        _mkdir(os.path.join(out, "reads"))
        pq.write_table(_reads_table(items), os.path.join(out, "reads", "part-0.parquet"))
        _mkdir(os.path.join(out, "ledger"))
        n = len(HISTORY_SHEETS)
        pq.write_table(
            pa.table({
                "file_name": [os.path.join(out, "inbox", f) for f in HISTORY_SHEETS],
                "error": pa.nulls(n, pa.string()),
                "processed_at": pa.array([BASE_TIME - timedelta(days=n - k) for k in range(n)],
                                         pa.timestamp("us", tz="UTC")),
            }),
            os.path.join(out, "ledger", "part-0.parquet"),
        )
        with open(os.path.join(out, "species_lookup.csv"), "w") as fh:
            fh.write("genus_species,genus,project_id\n")
            for gs, g, p in self.lookup:
                fh.write(f"{gs},{g},{p}\n")

    def write_day(self, out: str, day: int) -> dict[str, str]:
        """Day ``day``'s deliveries (1-based); returns their paths."""
        d = self.days[day - 1]
        inbox = _mkdir(os.path.join(out, "inbox"))
        for fname, rows in d.sheets:
            with open(os.path.join(inbox, fname), "w") as fh:
                if rows is None:
                    fh.write("sample\torganism\nX1\tHyla regilla\n")
                    continue
                fh.write("# CCGP sample submission form\tversion 3\n\n")
                fh.write("\t".join(SHEET_HEADER) + "\n")
                for r in rows:
                    fh.write("\t".join(r) + "\n")
        sheets = HISTORY_SHEETS + sorted(f for dd in self.days[:day] for f, _ in dd.sheets)
        drive = os.path.join(out, f"drive_d{day}.parquet")
        pq.write_table(pa.table({"file_name": [os.path.join(inbox, f) for f in sheets]}),
                       drive)
        listing = os.path.join(out, f"listing_d{day}.parquet")
        keys = list(self.files)[: self.n_base_files] + [
            k for dd in self.days[:day] for k in dd.keys
        ]
        pq.write_table(
            pa.table({
                "key": keys,
                "size": pa.array([self.files[k].size for k in keys], pa.int64()),
                "last_modified": pa.array([self.files[k].mdate for k in keys],
                                          pa.timestamp("us", tz="UTC")),
            }),
            listing,
        )
        attrs = os.path.join(out, f"attributes_d{day}.tsv")
        with open(attrs, "w") as fh:
            fh.write("sample_name\taccession\tbioproject_accession\n")
            for row in (row for dd in self.days[:day] for row in dd.accessions):
                fh.write("\t".join(row) + "\n")
        return {"drive": drive, "listing": listing, "attributes": attrs}


def _mkdir(p: str) -> str:
    os.makedirs(p, exist_ok=True)
    return p


def _copy(s: Sample) -> Sample:
    return Sample(**{**s.__dict__, "files": list(s.files) if s.files is not None else None})


def _is_new(s: Sample) -> bool:
    return s.project == "?"


def _clean(raw: str) -> str:
    return raw.replace(".", "_").replace(" ", "_")


def _samples_table(samples: list[Sample]) -> pa.Table:
    n = len(samples)
    null_s = pa.nulls(n, pa.string())
    cols = {
        "sample_name": [s.name for s in samples],
        "organism": [s.organism for s in samples],
        "ccgp_project_id": [s.project for s in samples],
        "expected_species": pa.array([s.expected_species for s in samples], pa.int32()),
        "minicore_seq_id": [s.ids for s in samples],
        "old_minicore_seq_id": null_s,
        "preferred_sequence_id": null_s,
        "minicore_sequenced": [s.sequenced for s in samples],
        "lat": pa.array([37.0 + (i % 500) / 100 for i in range(n)], pa.float64()),
        "long": pa.array([-120.0 - (i % 700) / 100 for i in range(n)], pa.float64()),
        "lat_lon": null_s,
        "collection_date": ["2021-06-%02d" % (1 + i % 28) for i in range(n)],
        "geo_loc_name": ["USA: California" if i % 4 else "" for i in range(n)],
        "locality_description": null_s,
        "county": ["Marin" if i % 3 == 0 else None for i in range(n)],
        "state": ["California" if i % 5 else None for i in range(n)],
        "files": pa.array([s.files for s in samples], pa.list_(pa.string())),
        "filesize_sum": pa.nulls(n, pa.int64()),
        "received": pa.nulls(n, pa.timestamp("us", tz="UTC")),
        "ncbi_accession_id": [s.accession for s in samples],
        "ncbi_bioproject": [s.bioproject for s in samples],
        "ref_genome_accession": ["NaN"] * n,
        "project_type": ["Minicore" if i % 3 else "Non-Minicore" for i in range(n)],
        "library_prep_method": null_s,
        "protected_coords": ["TRUE" if i % 10 == 0 else "FALSE" for i in range(n)],
        "exclude": ["TRUE" if i % 17 == 0 else None for i in range(n)],
        "township": null_s,
        "range": null_s,
        "section": null_s,
        "lane_name": null_s,
        "attrs": pa.array([[("tissue", TISSUES[i % len(TISSUES)])] for i in range(n)],
                          pa.map_(pa.string(), pa.string())),
    }
    return pa.table(cols)


def _reads_table(items: list[tuple[str, ReadFile]]) -> pa.Table:
    n = len(items)
    return pa.table({
        "file_name": [k for k, _ in items],
        "filesize": pa.array([f.size for _, f in items], pa.int64()),
        "mdate": pa.array([f.mdate for _, f in items], pa.timestamp("us", tz="UTC")),
        "orphan": [f.owner is None for _, f in items],
        "instrument_model": ["Illumina NovaSeq 6000"] * n,
        "uploaded_to_NCBI": ["yes" if i % 4 == 0 else None for i in range(n)],
        "srr_accession_id": pa.nulls(n, pa.string()),
        "ncbi_bioproject": pa.nulls(n, pa.string()),
        "ccgp_project_id": pa.nulls(n, pa.string()),
        "sequence_length": pa.nulls(n, pa.int64()),
        "sample_name": [f.owner for _, f in items],
    })


class _WorldGen:
    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.next_id = 0
        self.samples: dict[str, Sample] = {}
        self.files: dict[str, ReadFile] = {}
        self.stems: dict[str, str] = {}
        pairs = [(g, e) for g in GENERA for e in EPITHETS]
        self.rng.shuffle(pairs)
        pairs = pairs[: N_PROJECTS - len(SINGLE_GENERA)]
        pairs += [(g, "solus") for g in SINGLE_GENERA]
        projects = [(f"{i + 1}-{g}", g, e) for i, (g, e) in enumerate(pairs)]
        # one row per project's species, then subspecies of some of them
        # (only their first two tokens join) and more species of a
        # project's genus, up to LOOKUP_ROWS
        self.lookup = [(f"{g} {e}", g, p) for p, g, e in projects]
        taken = {gs for gs, _g, _p in self.lookup}
        for p, g, e in self.rng.sample(projects, (LOOKUP_ROWS - N_PROJECTS) // 3):
            self.lookup.append((f"{g} {e} {self.rng.choice(SUBSPECIES)}", g, p))
        genus_project: dict[str, str] = {}
        for p, g, _e in projects:
            genus_project.setdefault(g, p)
        more = [(g, e) for g in genus_project for e in EPITHETS if f"{g} {e}" not in taken]
        for g, e in self.rng.sample(more, LOOKUP_ROWS - len(self.lookup)):
            self.lookup.append((f"{g} {e}", g, genus_project[g]))

    def _file(self, key: str, day: int, owner: str | None) -> str:
        r = self.rng
        self.files[key] = ReadFile(
            size=r.randrange(200_000_000, 4_000_000_000),
            mdate=BASE_TIME + timedelta(days=day, seconds=r.randrange(86_400)),
            owner=owner,
        )
        return key

    def _lanes(self, stem: str, day: int, owner: str | None, lanes: int,
               gz: bool = True, first_lane: int = 1) -> list[str]:
        ext = ".fastq.gz" if gz else ".fastq"
        s = self.rng.randrange(1, 97)
        return [
            self._file(f"{stem}S{s}_L00{lane}_R{r}_001{ext}", day, owner)
            for lane in range(first_lane, first_lane + lanes)
            for r in (1, 2)
        ]

    def sample(self, day: int, row=None) -> Sample:
        """One sample of a lookup row's organism, and the files it will
        own, over the branch mix."""
        r = self.rng
        i = self.next_id
        self.next_id += 1
        organism, genus, pid = row or r.choice(self.lookup)
        code = genus[:4].upper()
        plain = f"{code}{i:06d}"
        kind = r.random()
        sep = r.choice(SEPS)
        lanes = 1 if r.random() < 0.2 else 2
        name, ids, sequenced = plain, plain, "YES"
        if kind < 0.08:  # id with '_': file uses '-' (tier 1) or no separator (tier 2)
            ids = f"{code}_{i:06d}"
            stem = f"{code}-{i:06d}" if r.random() < 0.5 else plain
        elif kind < 0.13:  # id with '-': file uses '_' (tier 1)
            ids = f"{code}-{i:06d}"
            stem = f"{code}_{i:06d}"
        elif kind < 0.18:  # comma multi-id; the first id never sequenced
            ids = f"OLD{i:06d},{plain}"
            stem = plain
        elif kind < 0.22:  # not sequenced: its files stay orphans
            sequenced = "NO" if r.random() < 0.5 else None
            stem = plain
        elif kind < 0.25:  # no usable id
            ids = r.choice([None, "NaN"])
            stem = plain
        else:
            stem = plain
        if r.random() < 0.3 and "_" not in (ids or ""):
            name = f"{code}_{i:06d}"
        linked = sequenced == "YES" and ids not in (None, "NaN")
        owner = name if linked else None
        self._lanes(stem + sep, day, owner, lanes)
        if linked:
            self.stems[name] = stem + sep
        if linked and r.random() < 0.05:  # an uncompressed copy never links
            self._lanes(stem + sep, day, None, 1, gz=False)
        s = Sample(
            name=name,
            organism=organism,
            project=pid,
            expected_species=1,
            ids=ids,
            sequenced=sequenced,
            files=None,
        )
        self.samples[name] = s
        return s

    def conflict(self, a: Sample, day: int) -> None:
        """Sample ``<a>-B``: its files also contain ``a``'s id followed
        by a separator, so both samples claim them; the closer name wins."""
        name = f"{a.name}-B"
        b = Sample(name, a.organism, a.project, 1, name, "YES", None)
        self.samples[name] = b
        self._lanes(f"{name}_", day, name, 1)


def build_world(seed: int) -> World:
    b = _WorldGen(seed)
    r = b.rng
    base = [b.sample(day=-30) for _ in range(N_SAMPLES)]
    for a in r.sample([s for s in base if s.name == s.ids], N_SAMPLES // 200):
        b.conflict(a, day=-30)
    for _ in range(N_SAMPLES // 100):  # object keys no sample claims
        b._lanes(f"ZZUN{b.next_id:06d}_", -30, None, 1)
        b.next_id += 1
    # the stored arrays of a synced deployment, with the "" / "NaN"
    # pollution the reference left behind
    owned: dict[str, list[str]] = {}
    for k, f in b.files.items():
        if f.owner:
            owned.setdefault(f.owner, []).append(k)
    for name, s in b.samples.items():
        arr = sorted(owned.get(name, [])) or None
        p = r.random()
        if p < 0.04:
            arr = (arr or []) + [""]
        elif p < 0.08:
            arr = (arr or []) + ["NaN"]
        elif arr is None and p < 0.3:
            arr = []
        s.files = arr
        if r.random() < 0.5:
            s.accession = f"SAMN{30_000_000 + r.randrange(10**7)}"
            s.bioproject = f"PRJNA{r.randrange(700_000, 999_999)}"
    world = World(b.lookup, b.samples, b.files, n_base_files=len(b.files))

    genus_only = [(f"{g} novospecies", g, "?") for g in SINGLE_GENERA]
    unknown = ("Zzyzxia incognita", "Zzyzxia", "?")
    sent: set[str] = set()
    for day in range(1, N_DAYS + 1):
        keys_before = len(b.files)
        sheets: list[tuple[str, list[list[str]] | None]] = []
        for k in range(SHEETS_PER_DAY):
            rows = []
            for j in range(SAMPLES_PER_SHEET):
                u = r.random()
                row = r.choice(genus_only) if u < 0.1 else unknown if u < 0.15 else None
                s = b.sample(day, row)
                s.project, s.expected_species = "?", 0
                raw = s.name.replace("_", r.choice(["_", " ", "."]), 1)
                rows.append([
                    raw, s.organism, _lat_lon(r, j), _date(r, j),
                    s.ids or "", s.sequenced or "", r.choice(["Minicore", "Non-Minicore"]),
                    r.choice(TISSUES),
                ])
            sheets.append((f"sheet_d{day}_{k}.tsv", rows))
        if day % 2 == 0:
            sheets.append((f"sheet_d{day}_broken.tsv", None))
        for name in r.sample(sorted(b.stems), RESEQUENCED_PER_DAY):  # one more lane
            b._lanes(b.stems[name], day, name, 1, first_lane=4 + day)
        for _ in range(UNCLAIMED_PER_DAY):
            b._lanes(f"ZZUN{b.next_id:06d}_", day, None, 1)
            b.next_id += 1
        # a sample gets its accession once: the file is cumulative
        no_acc = [s for s in base if s.accession is None and s.name not in sent]
        acc = []
        for s in r.sample(no_acc, ACCESSIONS_PER_DAY):
            sent.add(s.name)
            raw = s.name.replace("_", r.choice([" ", "."]), 1)
            acc.append((raw, f"SAMN{40_000_000 + r.randrange(10**7)}",
                        f"PRJNA{r.randrange(700_000, 999_999)}"))
        for j in range(FOREIGN_ACCESSIONS_PER_DAY):
            acc.append((f"FOREIGN {day}.{j}", f"SAMN{r.randrange(10**8)}", "PRJNA1"))
        world.days.append(Day(sheets, list(b.files)[keys_before:], acc))
    return world


def _lat_lon(r: random.Random, j: int) -> str:
    lat, lon = round(r.uniform(32.5, 42.0), 4), round(r.uniform(114.0, 124.0), 4)
    forms = [
        f"{lat},{-lon}",
        f"{lat} N {lon} W",
        f"{lat}_{-lon}",
        f"{int(lat)}°{int(lat % 1 * 60)}'{round(lat * 3600 % 60, 2)}\"N "
        f"{int(lon)}°{int(lon % 1 * 60)}'{round(lon * 3600 % 60, 2)}\"W",
        "Not determined",
        "",
    ]
    return forms[j % len(forms)]


def _date(r: random.Random, j: int) -> str:
    m, d = r.randrange(1, 13), r.randrange(1, 29)
    return [f"{m}/{d}/2022", f"2022-{m:02d}-{d:02d}", "2022", "missing"][j % 4]
