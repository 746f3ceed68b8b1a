"""Seeded MeerTRAP raw-tree generator for the benchmark.

Writes partition directories in the reference layout (FIXTURES.md §1-2)::

    <root>/<YYYY-MM-DD>/<hostname>_<unix_ts>/
        <datetime>_<hostname>_run_summary.json
        <datetime>_beam<absnum>.spccl.log        # one tab-separated line

and returns, next to the files, what the pipeline must produce from them:
the expected row count of each of the 9 tables, the directory count and
the raw input bytes.

Shapes follow ``tests/test_meertrap_pipeline.py`` (``run_summary``,
``spccl_line``) and FIXTURES.md's invariants:

- every directory of one (observation, host) carries a byte-identical run
  summary, so the source's content dedup collapses them to one row;
- hostnames match ``tpn-\\d+-\\d+`` (no ``_``), so the processed-at parse of
  ``<hostname>_<unix_ts>`` works; each host has one (ip, hostname, port);
- observations have distinct ``utc_start`` inside their schedule block's
  ``[start, start + duration + 1h]``; ``utc_stop`` is null on every other
  observation, so the lead imputation runs;
- every candidate lies inside its observation and names a beam of its own
  host with the matching C/I mode; some sit 0.3 s after the observation
  start (1 s rounding); every ``DUP_EVERY``-th directory is copied into a
  later-processed directory of the same host (keep-first dedup).

Schedule blocks never use a zero expected duration: its "global mined
duration" quirk makes ``est_end_at`` depend on which blocks share a batch,
which would change the schedule block's natural key between partitions
of the incremental workload.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
from dataclasses import dataclass, field
from decimal import ROUND_HALF_UP, Decimal

UTC = dt.timezone.utc
EPOCH = dt.datetime(1970, 1, 1, tzinfo=UTC)
DAY0 = dt.datetime(2023, 11, 17, tzinfo=UTC)

TABLES = (
    "schedule_block",
    "meerkat_schedule_block",
    "host",
    "coherent_beam_config",
    "observation",
    "tiling_config",
    "beam",
    "candidate",
    "sp_candidate",
)

#: Foreign keys of the 9 tables: (child table, column, parent table).
FOREIGN_KEYS = (
    ("meerkat_schedule_block", "schedule_block_id", "schedule_block"),
    ("observation", "schedule_block_id", "schedule_block"),
    ("observation", "coherent_beam_config_id", "coherent_beam_config"),
    ("tiling_config", "observation_id", "observation"),
    ("beam", "observation_id", "observation"),
    ("beam", "host_id", "host"),
    ("candidate", "beam_id", "beam"),
    ("sp_candidate", "candidate_id", "candidate"),
)


def _schemas() -> dict:
    """Column names and arrow types of the pipeline's parquet output."""
    import pyarrow as pa

    ts, f64, i64, i32, s = pa.timestamp("us"), pa.float64(), pa.int64(), pa.int32(), pa.string()
    return {
        "schedule_block": [("id", i64), ("start_at", ts), ("est_end_at", ts)],
        "meerkat_schedule_block": [("id", i64), ("meerkat_id", i64), ("meerkat_id_code", s),
                                   ("proposal_id", s), ("schedule_block_id", i64)],
        "host": [("id", i64), ("ip_address", s), ("hostname", s), ("port", i32)],
        "coherent_beam_config": [("id", i64), ("angle", f64), ("fraction_overlap", f64),
                                 ("x", f64), ("y", f64)],
        "observation": [("id", i64), ("t_min", ts), ("t_max", ts), ("em_min", f64),
                        ("em_max", f64), ("em_xel", i32), ("pol_xel", i32),
                        ("pol_states", s), ("dataproduct_type", s), ("facility_name", s),
                        ("instrument_name", s), ("t_resolution", f64), ("s_ra", f64),
                        ("s_dec", f64), ("schedule_block_id", i64),
                        ("coherent_beam_config_id", i64)],
        "tiling_config": [("id", i64), ("coordinate_type", s), ("epoch", f64),
                          ("epoch_offset", f64), ("method", s), ("nbeams", i32),
                          ("overlap", f64), ("reference_frequency", f64), ("shape", s),
                          ("target", s), ("ra", f64), ("dec", f64), ("observation_id", i64)],
        "beam": [("id", i64), ("number", i32), ("coherent", pa.bool_()), ("ra", f64),
                 ("dec", f64), ("observation_id", i64), ("host_id", i64)],
        "candidate": [("id", i64), ("dm", f64), ("snr", f64), ("width", f64), ("ra", f64),
                      ("dec", f64), ("pos", s), ("observed_at", ts), ("beam_id", i64)],
        "sp_candidate": [("id", i64), ("plot_path", s), ("candidate_id", i64)],
    }


OBS_SLOT_S = 1200  # one observation per 20 minutes
OBS_LEN_S = 1080
OBS_PER_SB = 3
N_HOSTS = 8
BEAMS_PER_HOST = 12
DUP_EVERY = 40


@dataclass(frozen=True)
class TreeSpec:
    """Input properties one generated partition varies."""

    n_dirs: int
    n_obs: int

    def __post_init__(self) -> None:
        if self.n_obs > 24 * 3600 // OBS_SLOT_S - 1:
            raise ValueError(f"at most {24 * 3600 // OBS_SLOT_S - 1} observations per day")
        if self.n_dirs < self.n_obs * N_HOSTS:
            raise ValueError("need at least one directory per (observation, host)")


@dataclass
class Entities:
    """Natural keys of every row the pipeline should produce, so the
    expected count of a table over several partitions is the size of
    the union of their key sets."""

    schedule_block: set = field(default_factory=set)
    meerkat_schedule_block: set = field(default_factory=set)
    host: set = field(default_factory=set)
    coherent_beam_config: set = field(default_factory=set)
    observation: set = field(default_factory=set)
    tiling_config: set = field(default_factory=set)
    beam: set = field(default_factory=set)
    candidate: set = field(default_factory=set)
    sp_candidate: set = field(default_factory=set)

    def union(self, other: "Entities") -> "Entities":
        return Entities(**{t: getattr(self, t) | getattr(other, t) for t in TABLES})

    def counts(self) -> dict[str, int]:
        return {t: len(getattr(self, t)) for t in TABLES}


@dataclass
class Tree:
    """One generated partition: where it is and what it must load to."""

    path: str
    partition_key: str
    n_dirs: int
    n_files: int
    input_bytes: int
    unique_summaries: int
    entities: Entities

    @property
    def expected(self) -> dict[str, int]:
        return self.entities.counts()

    @property
    def candidates(self) -> int:
        return len(self.entities.candidate)


def _mjd(ts: dt.datetime) -> float:
    return (ts - EPOCH).total_seconds() / 86400.0 + 40587.0


def _fmt_utc(ts: dt.datetime | None) -> str | None:
    return None if ts is None else ts.strftime("%Y-%m-%d_%H:%M:%S")


def _hms(h: int, m: int, s: float) -> str:
    return f"{h}:{m:02d}:{s:05.2f}"


def _host_beams(host: int) -> list[dict]:
    beams = []
    for rel in range(BEAMS_PER_HOST):
        absnum = host * BEAMS_PER_HOST + rel
        beams.append({
            "absnum": absnum,
            # exactly one incoherent beam across the host set
            "coherent": absnum != 0,
            "dec_dms": f"-43:{absnum % 60:02d}:{(absnum * 7) % 60:04.1f}",
            "mc_ip": f"10.0.0.{host + 1}",
            "mc_port": 7000 + host,
            "ra_hms": _hms(4, 40 + absnum % 20, (absnum * 3) % 60 + 0.07),
            "relnum": rel,
            "source": "J0440-4333",
        })
    return beams


def _hostname(host: int) -> str:
    return f"tpn-0-{host + 10}"


class _Day:
    """Observations and schedule blocks of one calendar day."""

    def __init__(self, day: int):
        self.day = day
        self.start = DAY0 + dt.timedelta(days=day)
        self.partition_key = self.start.strftime("%Y-%m-%d")

    def obs_start(self, j: int) -> dt.datetime:
        return self.start + dt.timedelta(seconds=600 + j * OBS_SLOT_S)

    def obs_stop(self, j: int) -> dt.datetime | None:
        return None if j % 2 else self.obs_start(j) + dt.timedelta(seconds=OBS_LEN_S)

    def sb(self, j: int) -> dict:
        s = j // OBS_PER_SB
        first = self.obs_start(s * OBS_PER_SB)
        start = first - dt.timedelta(seconds=300)
        meerkat_id = 79000 + self.day * 100 + s
        return {
            "id": meerkat_id,
            "id_code": f"{self.partition_key.replace('-', '')}-{s:04d}",
            "actual_start_time": start.strftime("%Y-%m-%d %H:%M:%S.000+00:00"),
            "expected_duration_seconds": OBS_PER_SB * OBS_SLOT_S,
            "proposal_id": f"SCI-2023-AB-{s % 4:02d}",
            "script_profile_config": f"x duration={OBS_SLOT_S}\\n y duration=60\\n",
            "targets": json.dumps([{"track_start_offset": 32.6, "target": "J0408-6545",
                                    "track_duration": float(OBS_SLOT_S)}]),
        }

    def global_obs(self, j: int) -> int:
        return self.day * 1000 + j

    def tilings(self, j: int) -> list[dict]:
        g = self.global_obs(j)
        out = [{"coordinate_type": "equatorial", "epoch": 1700517405.4 + g,
                "epoch_offset": 300.0, "method": "variable_size", "nbeams": 780,
                "overlap": 0.25, "reference_frequency": 1284000000.0, "shape": "circle",
                "target": "J0440-4333, radec gaincal, 4:40:17.07, -43:33:09.0"}]
        if g % 2:
            out.append({"coordinate_type": "equatorial", "epoch": 1700517405.4 + g,
                        "epoch_offset": 300.0, "method": "variable_size", "nbeams": 390,
                        "overlap": 0.5, "reference_frequency": 1284000000.0,
                        "shape": "circle",
                        "target": "J0408-6545, radec target, 4:08:20.38, -65:45:09.1"})
        return out

    def cb_shape(self, j: int) -> dict:
        v = self.global_obs(j) % 3
        return {"angle": -54.52 + v, "overlap": 0.25, "x": 0.00813, "y": 0.00749}

    def run_summary(self, j: int, host: int) -> str:
        start, stop = self.obs_start(j), self.obs_stop(j)
        doc = {
            "beams": {
                "ca_target_request": {"beams": [], "tilings": self.tilings(j),
                                      "unique_id": None},
                "cb_antennas": ["m000", "m001"],
                "coherent_beam_shape": self.cb_shape(j),
                "ib_antennas": ["m000"],
                "list": _host_beams(host),
            },
            "data": {"bw": 856.0, "cfreq": 1284.0, "nbeam": 780, "nbit": 8,
                     "nchan": 1024, "npol": 1 if j % 3 else 4,
                     "sync_time": 1697000000.0, "tsamp": 0.000306},
            "pipeline": {"version": "x"},
            "sb_details": self.sb(j),
            "utc_start": _fmt_utc(start),
            "utc_stop": _fmt_utc(stop),
            "version_info": {"app": "1"},
        }
        return json.dumps(doc, sort_keys=True) + "\n"


def _spccl_line(mjd: float, dm: float, width: float, snr: float, beam: dict,
                fil: str, plot: str) -> str:
    mode = "C" if beam["coherent"] else "I"
    fields = ["0", repr(mjd), repr(dm), repr(width), repr(snr), str(beam["absnum"]),
              mode, beam["ra_hms"], beam["dec_dms"], "1", "0.93", fil, plot]
    return "\t".join(fields) + "\n"


@dataclass(frozen=True)
class _Cand:
    """One candidate directory: where it lives and its SPCCL line."""

    dirname: str
    obs: int
    host: int
    beam: dict
    mjd: float
    dm: float
    width: float
    snr: float
    name: str
    plot: str
    #: True for the later-processed copy the pipeline must dedup away.
    dup: bool = False

    @property
    def line(self) -> str:
        return _spccl_line(self.mjd, self.dm, self.width, self.snr, self.beam,
                           f"{self.name}_beam{self.beam['absnum']}.fil", self.plot)


def _plan(spec: TreeSpec, seed: int, day: int) -> tuple[_Day, list[_Cand]]:
    """Every candidate directory of one day, duplicates last."""
    rng = random.Random(f"{seed}:{day}:{spec}")
    d = _Day(day)
    pairs = [(j, h) for j in range(spec.n_obs) for h in range(N_HOSTS)]
    n_dups = spec.n_dirs // DUP_EVERY
    n_orig = spec.n_dirs - n_dups
    # every (observation, host) gets one directory; the rest land at random
    owners = pairs + [rng.choice(pairs) for _ in range(n_orig - len(pairs))]
    ts0 = int(d.start.timestamp())
    cands = []
    for i, (j, h) in enumerate(owners):
        beam = rng.choice(_host_beams(h))
        offset = 0.3 if i % 17 == 0 else rng.uniform(5.0, OBS_LEN_S - 60.0)
        t = d.obs_start(j) + dt.timedelta(seconds=offset)
        cands.append(_Cand(
            dirname=f"{_hostname(h)}_{ts0 + 10 * i}", obs=j, host=h, beam=beam,
            mjd=_mjd(t), dm=round(30.0 + i * 0.37 + rng.random() * 0.3, 4),
            width=round(rng.uniform(0.3, 20.0), 3), snr=round(rng.uniform(7.0, 40.0), 3),
            name=t.strftime("%Y-%m-%d-%H%M%S"),
            plot=f"{_mjd(t):.6f}_DM_{i}_beam_{beam['absnum']}.jpg",
        ))
    # duplicates: same host and line, processed later (larger unix_ts)
    for k, i in enumerate(rng.sample(range(n_orig), n_dups)):
        c = cands[i]
        cands.append(_Cand(**{**c.__dict__, "dup": True,
                              "dirname": f"{_hostname(c.host)}_{ts0 + 10 * (n_orig + k)}"}))
    return d, cands


def _entities(d: _Day, cands: list[_Cand]) -> Entities:
    ent = Entities()
    for c in cands:
        g = d.global_obs(c.obs)
        ent.schedule_block.add(d.sb(c.obs)["id"])
        ent.meerkat_schedule_block.add(d.sb(c.obs)["id"])
        ent.observation.add(g)
        ent.coherent_beam_config.add(tuple(sorted(d.cb_shape(c.obs).items())))
        ent.tiling_config.update((g, k) for k in range(len(d.tilings(c.obs))))
        ent.host.add(c.host)
        ent.beam.update((g, b["absnum"]) for b in _host_beams(c.host))
        if not c.dup:
            ent.candidate.add((d.day, c.dirname))
            ent.sp_candidate.add(f"{d.partition_key}/{c.dirname}/{c.plot}")
    return ent


def _in_range(cands: list[_Cand], obs_range: tuple[int, int] | None) -> list[_Cand]:
    if obs_range is None:
        return cands
    lo, hi = obs_range
    return [c for c in cands if lo <= c.obs < hi]


def generate(root: str, spec: TreeSpec, seed: int, day: int = 0,
             obs_range: tuple[int, int] | None = None) -> Tree:
    """Write one partition under ``<root>/<YYYY-MM-DD>`` and return its
    identity and expected tables.

    ``obs_range`` keeps only the directories of observations
    ``[lo, hi)`` of the day, so an earlier, partial delivery of the same
    partition is a byte-identical subset of the full one.
    """
    d, cands = _plan(spec, seed, day)
    cands = _in_range(cands, obs_range)
    part = os.path.join(root, d.partition_key)
    summaries: dict[tuple[int, int], str] = {}
    n_files = input_bytes = 0
    for c in cands:
        key = (c.obs, c.host)
        if key not in summaries:
            summaries[key] = d.run_summary(c.obs, c.host)
        cdir = os.path.join(part, c.dirname)
        os.makedirs(cdir, exist_ok=True)
        for fname, body in (
            (f"{c.name}_{_hostname(c.host)}_run_summary.json", summaries[key]),
            (f"{c.name}_beam.spccl.log", c.line),
        ):
            with open(os.path.join(cdir, fname), "w") as f:
                f.write(body)
            n_files += 1
            input_bytes += len(body.encode())
    return Tree(
        path=part,
        partition_key=d.partition_key,
        n_dirs=len(cands),
        n_files=n_files,
        input_bytes=input_bytes,
        unique_summaries=len(summaries),
        entities=_entities(d, cands),
    )


# ---------------------------------------------------------------------------
# Prior warehouse: the 9 tables that loading earlier partitions leaves
# behind, written with pyarrow so that building it starts no JVM and the
# benchmark's first Spark load stays cold. Natural-key columns are
# computed exactly as the pipeline's kernels compute them
# (functions/kernels.py); ids are any unique numbering, as incremental_load
# adopts existing ids on a natural-key match.
# ---------------------------------------------------------------------------

def _spark_round(x: float, scale: int) -> float:
    """Spark's ``round`` on a double: HALF_UP on its decimal string."""
    q = Decimal(1).scaleb(-scale)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


def _hms_deg(s: str) -> float:
    h, m, sec = (float(p) for p in s.split(":"))
    return _spark_round((h + m / 60.0 + sec / 3600.0) * 15.0, 5)


def _dms_deg(s: str) -> float:
    sign = -1.0 if s.startswith("-") else 1.0
    d, m, sec = (float(p) for p in s.lstrip("+-").split(":"))
    return _spark_round(sign * (d + m / 60.0 + sec / 3600.0), 5)


def _mjd_micros(mjd: float) -> int:
    return int(_spark_round((mjd - 40587.0) * 86400.0 * 1e6, 0))


def _ts(s: str) -> dt.datetime:
    return dt.datetime.strptime(s[:19], "%Y-%m-%d %H:%M:%S")


def _naive(t: dt.datetime) -> dt.datetime:
    return t.astimezone(UTC).replace(tzinfo=None)


def warehouse_rows(spec: TreeSpec, seed: int,
                   parts: list[tuple[int, tuple[int, int] | None]]) -> dict[str, list[dict]]:
    """Rows of the 9 tables after loading ``parts`` ((day, obs_range)
    pairs) in order."""
    ids: dict[str, dict] = {t: {} for t in TABLES}
    rows: dict[str, list[dict]] = {t: [] for t in TABLES}

    def new(table: str, key, row: dict) -> int:
        if key not in ids[table]:
            ids[table][key] = len(ids[table]) + 1
            rows[table].append({"id": ids[table][key], **row})
        return ids[table][key]

    for day, obs_range in parts:
        d, cands = _plan(spec, seed, day)
        for c in _in_range(cands, obs_range):
            sb = d.sb(c.obs)
            start = _ts(sb["actual_start_time"])
            sb_id = new("schedule_block", sb["id"], {
                "start_at": start,
                "est_end_at": start + dt.timedelta(seconds=sb["expected_duration_seconds"]),
            })
            new("meerkat_schedule_block", sb["id"], {
                "meerkat_id": sb["id"], "meerkat_id_code": sb["id_code"],
                "proposal_id": sb["proposal_id"], "schedule_block_id": sb_id,
            })
            shape = d.cb_shape(c.obs)
            cb_id = new("coherent_beam_config", tuple(sorted(shape.items())), {
                "angle": shape["angle"], "fraction_overlap": shape["overlap"],
                "x": shape["x"], "y": shape["y"],
            })
            g = d.global_obs(c.obs)
            tiles = d.tilings(c.obs)
            first = [p.strip() for p in tiles[0]["target"].split(",")]
            npol = 1 if c.obs % 3 else 4
            stop = d.obs_stop(c.obs) or d.obs_start(c.obs) + dt.timedelta(seconds=OBS_SLOT_S)
            obs_id = new("observation", g, {
                "t_min": _naive(d.obs_start(c.obs)), "t_max": _naive(stop),
                "em_min": 299792458.0 / (1284.0 + 856.0 / 2.0) * 1e6,
                "em_max": 299792458.0 / (1284.0 - 856.0 / 2.0) * 1e6,
                "em_xel": 1024, "pol_xel": npol,
                "pol_states": "I" if npol == 1 else "I,Q,U,V",
                "dataproduct_type": "dynamic spectrum" if npol == 1 else "cube",
                "facility_name": "MeerTRAP", "instrument_name": "Meerkat",
                "t_resolution": 0.000306, "s_ra": _hms_deg(first[2]),
                "s_dec": _dms_deg(first[3]), "schedule_block_id": sb_id,
                "coherent_beam_config_id": cb_id,
            })
            for k, tile in enumerate(tiles):
                parts_ = [p.strip() for p in tile["target"].split(",")]
                new("tiling_config", (g, k), {
                    **{f: tile[f] for f in ("coordinate_type", "epoch", "epoch_offset",
                                            "method", "nbeams", "overlap", "shape")},
                    "reference_frequency": tile["reference_frequency"] / 1e6,
                    "target": parts_[0], "ra": _hms_deg(parts_[2]),
                    "dec": _dms_deg(parts_[3]), "observation_id": obs_id,
                })
            host = _host_beams(c.host)
            host_id = new("host", c.host, {
                "ip_address": host[0]["mc_ip"], "hostname": _hostname(c.host),
                "port": host[0]["mc_port"],
            })
            for b in host:
                new("beam", (g, b["absnum"]), {
                    "number": b["absnum"], "coherent": b["coherent"],
                    "ra": _hms_deg(b["ra_hms"]), "dec": _dms_deg(b["dec_dms"]),
                    "observation_id": obs_id, "host_id": host_id,
                })
            if c.dup:
                continue
            ra, dec = _hms_deg(c.beam["ra_hms"]), _dms_deg(c.beam["dec_dms"])
            micros = _mjd_micros(c.mjd)
            cand_id = new("candidate", (day, c.dirname), {
                "dm": c.dm, "snr": c.snr, "width": c.width, "ra": ra, "dec": dec,
                "pos": f"({ra},{dec})",
                "observed_at": dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=micros),
                "beam_id": ids["beam"][(g, c.beam["absnum"])],
            })
            new("sp_candidate", (day, c.dirname), {
                "plot_path": f"data/{d.partition_key}/{c.dirname}/{c.plot}",
                "candidate_id": cand_id,
            })
    return rows


def write_warehouse(path: str, spec: TreeSpec, seed: int,
                    parts: list[tuple[int, tuple[int, int] | None]]) -> Entities:
    """Write ``warehouse_rows`` as ``<path>/<table>.parquet`` in the
    column types the pipeline's parquet sink writes, and return the
    natural keys they hold."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = warehouse_rows(spec, seed, parts)
    for table, cols in _schemas().items():
        schema = pa.schema(cols)
        data = pa.Table.from_pylist(rows[table], schema=schema)
        os.makedirs(f"{path}/{table}.parquet", exist_ok=True)
        pq.write_table(data, f"{path}/{table}.parquet/part-00000-prior.gz.parquet",
                       compression="gzip", use_deprecated_int96_timestamps=True)
    ent = Entities()
    for day, obs_range in parts:
        d, cands = _plan(spec, seed, day)
        ent = ent.union(_entities(d, _in_range(cands, obs_range)))
    return ent

