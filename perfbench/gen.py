"""Seeded input generators for the benchmark, each with its ground truth.

Three generators, all pure functions of ``(seed, size)``:

- :func:`iis_payloads` -- an IIS-shaped API payload for every endpoint
  (schedule JSON with lessons and exams) for the initial load, plus its
  changed re-sync twin.  It stands in for ``sources.rest``, which needs a
  network.  The ground truth comes from :class:`IisModel`, a count-level
  model of the sync semantics (merge, SCD2, FK repair, department
  discovery, bridge rebuild, blob versioning, shred, occupancy).
- :func:`schedule_events_table` -- a ``SCHEDULE_EVENTS`` table plus an
  auditories dimension, as Arrow tables.
- :func:`dedup_corpus` -- a corpus with planted exact and near duplicates.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

DAYS = ["Понедельник", "Вторник", "Среда", "Четверг", "Пятница", "Суббота"]
DAY_INDEX = {d: i + 1 for i, d in enumerate(DAYS)}
SLOTS = [
    ("8:30", "9:55"),
    ("10:05", "11:30"),
    ("11:40", "13:05"),
    ("13:25", "14:50"),
    ("15:00", "16:25"),
    ("16:45", "18:10"),
    ("18:20", "19:45"),
    ("19:55", "21:20"),
]
T1 = "2026-03-01 00:00:00"
T2 = "2026-03-08 00:00:00"

# Shares of the re-sync change mix; recorded in the run summary.  The
# three ``# FIXTURES.md`` shares follow the rates the reference-domain
# fixtures prescribe (FIXTURES.md A2-A4: ~5% dangling faculty FK, ~5%
# invalid speciality FK, ~5% null urlId).  The others are assumptions:
# the repository records no production change rates.  perfbench/NOTES.md
# shows op_p50_s insensitive to halving or doubling them.
CHANGE_MIX = {
    "speciality_dangling_faculty": 0.05,  # FIXTURES.md
    "group_type2": 0.05,
    "group_type1": 0.10,
    "group_deleted": 0.03,
    "group_new": 0.03,
    "group_new_bad_fk": 0.05,  # FIXTURES.md
    "employee_rank_changed": 0.10,
    "employee_links_changed": 0.10,
    "employee_absent": 0.05,
    "employee_new": 0.03,
    "employee_new_no_url": 0.05,  # FIXTURES.md
    "auditory_capacity_changed": 0.10,
    "auditory_new": 0.03,
    "auditory_new_discovers_dept": 0.01,
    "dim_renamed": 0.10,
    "doc_changed": 0.20,
    "doc_malformed": 0.01,
    "doc_empty": 0.005,
    "lesson_bad_time": 0.01,
}


@dataclass(frozen=True)
class IisSize:
    faculties: int
    departments: int
    specialities: int
    groups: int
    employees: int
    auditories: int
    lessons_per_doc: int


IIS_SIZES = {
    "full": IisSize(12, 60, 80, 400, 300, 300, 15),
    "tiny": IisSize(4, 12, 16, 60, 40, 30, 6),
}


def _share(rng: random.Random, items: list, share: float) -> list:
    k = max(1, round(len(items) * share)) if items else 0
    return [items[i] for i in sorted(rng.sample(range(len(items)), k))]


def _lesson(rng, aud_names, groups, emp, bad_time=False):
    start, end = rng.choice(SLOTS)
    weeks = sorted(rng.sample([1, 2, 3, 4], rng.randint(1, 4)))
    auds = rng.sample(aud_names, 2 if rng.random() < 0.15 else 1)
    return {
        "subject": f"Предмет {rng.randint(1, 400)}",
        "subjectFullName": f"Полное название {rng.randint(1, 400)}",
        "startLessonTime": "25:70" if bad_time else start,
        "endLessonTime": end,
        "weekNumber": weeks,
        "numSubgroup": rng.randint(0, 2),
        "auditories": [{"id": aid, "name": name} for aid, name in auds],
        "employees": [
            {
                "firstName": emp["firstName"],
                "lastName": emp["lastName"],
                "middleName": emp["middleName"],
                "urlId": emp["urlId"],
            }
        ],
        "studentGroups": [
            {"name": g["name"], "numberOfStudents": g["numberOfStudents"]}
            for g in groups
        ],
    }


def _exam(rng, aud_names, groups, emp):
    lesson = _lesson(rng, aud_names, groups, emp)
    lesson["dateLesson"] = f"{rng.randint(1, 28):02d}.06.2026"
    lesson["weekNumber"] = []
    return lesson


def _doc(rng, n_lessons, aud_names, groups, emp, with_exams):
    schedules: dict[str, list] = {}
    for _ in range(n_lessons):
        day = rng.choice(DAYS)
        bad = rng.random() < CHANGE_MIX["lesson_bad_time"]
        schedules.setdefault(day, []).append(_lesson(rng, aud_names, groups, emp, bad))
    exams = (
        [_exam(rng, aud_names, groups, emp) for _ in range(rng.randint(1, 3))]
        if with_exams
        else []
    )
    return {"schedules": schedules, "exams": exams}


@dataclass
class IisModel:
    """Count-level model of one dimension state and what a sync does to it.

    It mirrors ``plans.etl_job.run_etl`` closely enough to predict every
    output's row count, the SCD2 rows opened and closed, the quarantined
    documents and the occupancy keys.  The benchmark's tests check it
    against the real job on a tiny payload."""

    faculties: set = field(default_factory=set)
    departments: dict = field(default_factory=dict)  # id -> (name, abbr)
    specialities: set = field(default_factory=set)
    groups: dict = field(default_factory=dict)  # id -> (name, course, spec)
    group_rows: int = 0
    employees: dict = field(default_factory=dict)  # id -> url_id
    bridge: set = field(default_factory=set)  # (dept_id, emp_id)
    auditories: dict = field(default_factory=dict)  # id -> name
    storage_open: set = field(default_factory=set)
    storage_rows: int = 0

    def sync(self, api: dict, docs: list) -> dict:
        """Apply one ``run_etl`` call; returns the expected counts.
        ``docs`` holds (entity_name, entity_type, parsed doc or None) in
        payload order, where None marks malformed or empty JSON."""
        self.faculties |= {f["id"] for f in api["faculties"]}
        for d in api["departments"]:
            self.departments[d["id"]] = (d["name"], d["abbrev"])
        for s in api["specialities"]:
            self.specialities.add(s["id"])
            self.faculties.add(s["facultyId"])  # J1 placeholder if dangling
        incoming = {
            g["id"]: (
                g["name"],
                g["course"],
                g["specialityDepartmentEducationFormId"],
            )
            for g in api["student_groups"]
            if g["specialityDepartmentEducationFormId"] in self.specialities
        }
        opened = closed = 0
        for gid, attrs in incoming.items():
            old = self.groups.get(gid)
            if old is None:
                opened += 1
            elif old != attrs:
                opened += 1
                closed += 1
        closed += sum(1 for gid in self.groups if gid not in incoming)
        self.group_rows += opened
        self.groups = incoming
        lookup = {}
        for did, (name, abbr) in sorted(self.departments.items(), reverse=True):
            for key in (name, abbr):
                if key and key.strip():
                    lookup[key.strip().lower()] = did
        batch = [e for e in api["employees"] if e.get("urlId")]
        batch_ids = {e["id"] for e in batch}
        for e in batch:
            self.employees[e["id"]] = e["urlId"]
        links = {
            (lookup[r.strip().lower()], e["id"])
            for e in batch
            for r in e["academicDepartment"]
            if r.strip().lower() in lookup
        }
        self.bridge = {b for b in self.bridge if b[1] not in batch_ids} | links
        for a in api["auditories"]:
            dept = a.get("department") or {}
            did = dept.get("idDepartment")
            if did and did not in self.departments:  # M7 first discovery
                self.departments[did] = (dept["name"] or f"Dept {did}", dept["abbrev"])
            self.auditories[a["id"]] = f"{a['name']}-{a['buildingNumber']['name']}"
        url_to_emp: dict = {}
        for eid, url in sorted(self.employees.items()):
            url_to_emp.setdefault(url, eid)
        aud_ids = {name: aid for aid, name in self.auditories.items()}
        events = quarantined = blob_closed = 0
        occupancy = set()
        for name, etype, doc in docs:
            usable = doc is not None and (doc["schedules"] or doc["exams"])
            if etype == "group":
                key = ("group", name) if doc is not None else None
            else:
                eid = url_to_emp.get(name)
                key = ("employee", eid) if usable and eid is not None else None
            if key is not None:
                blob_closed += key in self.storage_open
                self.storage_open.add(key)
                self.storage_rows += 1
            if not usable:
                quarantined += 1
                continue
            for day, lessons in doc["schedules"].items():
                for x in lessons:
                    if x["startLessonTime"] == "25:70":
                        continue
                    events += 1
                    if etype != "group":
                        continue
                    s = _secs(x["startLessonTime"])
                    e = _secs(x["endLessonTime"])
                    for aud in x["auditories"]:
                        for w in x["weekNumber"]:
                            occupancy.add((DAY_INDEX[day], w, s, e, aud_ids[aud["name"]]))
            events += len(doc["exams"])
        return {
            "counts": {
                "system_state": 1,
                "faculties": len(self.faculties),
                "departments": len(self.departments),
                "specialities": len(self.specialities),
                "student_groups": self.group_rows,
                "employees": len(self.employees),
                "departments_employees": len(self.bridge),
                "auditories": len(self.auditories),
                "schedule_json_storage": self.storage_rows,
                "schedule_events": events,
                "schedule_quarantine": quarantined,
                "occupancy_index": len(occupancy),
            },
            "scd2_opened": opened,
            "scd2_closed": closed,
            "blobs_closed": blob_closed,
        }


def _secs(hhmm: str) -> int:
    h, m = hhmm.split(":")
    return int(h) * 3600 + int(m) * 60


@dataclass
class IisInputs:
    api_load: dict
    api_resync: dict
    truth_load: dict
    truth_resync: dict
    payload_bytes: int
    lessons: int


def iis_payloads(seed: int, size: str = "full") -> IisInputs:
    """Initial-load payload, its changed re-sync twin and the expected
    counts after each sync (the re-sync one is seeded by the load)."""
    sz = IIS_SIZES[size]
    rng = random.Random(seed)
    faculties = [
        {"id": i, "name": f"Факультет {i}", "abbrev": f"F{i}"}
        for i in range(1, sz.faculties + 1)
    ]
    departments = [
        {"id": 100 + i, "name": f"Кафедра {i}", "abbrev": f"K{i}", "urlId": f"k{i}"}
        for i in range(sz.departments)
    ]
    dept_ids = [d["id"] for d in departments]
    specialities = []
    n_dangling = max(1, round(sz.specialities * CHANGE_MIX["speciality_dangling_faculty"]))
    for i in range(sz.specialities):
        fac = rng.randint(1, sz.faculties)
        if i < n_dangling:
            fac = 900 + i  # dangling FK -> placeholder faculty
        specialities.append(
            {
                "id": 1000 + i,
                "name": f"Специальность {i}",
                "abbrev": f"S{i}",
                "code": f"1-{i:04d}",
                "educationForm": {"id": 1, "name": "Дневная"},
                "facultyId": fac,
            }
        )
    spec_ids = [s["id"] for s in specialities]

    def group(i):
        return {
            "id": 10000 + i,
            "name": f"{200000 + i}",
            "course": rng.randint(1, 4),
            "specialityDepartmentEducationFormId": rng.choice(spec_ids),
            "calendarId": f"cal-{i % 7}",
            "numberOfStudents": rng.randint(15, 30),
        }

    def employee(i):
        return {
            "id": 50000 + i,
            "firstName": f"Имя{i}",
            "lastName": f"Фамилия{i}",
            "middleName": f"Отчество{i}",
            "degree": rng.choice(["к.т.н.", "д.т.н.", None]),
            "rank": rng.choice(["доцент", "профессор", "ассистент"]),
            "photoLink": f"https://photo/{i}.jpg",
            "calendarId": f"cal-{i % 7}",
            "urlId": f"e-{i}",
            "academicDepartment": [
                f"K{rng.randrange(sz.departments)}"
                for _ in range(rng.randint(1, 2))
            ],
        }

    def auditory(i):
        return {
            "id": 70000 + i,
            "name": f"{100 + i}",
            "buildingNumber": {"name": f"{1 + i % 8} к."},
            "note": f"Аудитория {i}",
            "capacity": rng.choice([20, 30, 60, 120]),
            "auditoryType": {"name": rng.choice(["лк", "пз", "лр"])},
            "departmentId": rng.choice(dept_ids),
        }

    groups = [group(i) for i in range(sz.groups)]
    employees = [employee(i) for i in range(sz.employees)]
    auditories = [auditory(i) for i in range(sz.auditories)]

    def schedules(groups_, employees_, auditories_, prev=None):
        """(payload rows, model rows).  ``prev`` maps (type, name) to a
        previous document; unchanged documents are re-sent verbatim."""
        aud_names = [
            (a["id"], f"{a['name']}-{a['buildingNumber']['name']}")
            for a in auditories_
        ]
        by_id = {g["name"]: g for g in groups_}
        names = sorted(by_id)
        rows, model = [], []
        entities = [("group", g["name"]) for g in groups_] + [
            ("employee", e["urlId"]) for e in employees_ if e.get("urlId")
        ]
        for etype, name in entities:
            r = rng.random()
            if r < CHANGE_MIX["doc_malformed"]:
                rows.append((name, etype, '{"schedules": {"Понедельник": [{'))
                model.append((name, etype, None))
                continue
            if r < CHANGE_MIX["doc_malformed"] + CHANGE_MIX["doc_empty"]:
                rows.append((name, etype, "{}"))
                model.append((name, etype, None))
                continue
            old = prev.get((etype, name)) if prev else None
            if old is not None and rng.random() >= CHANGE_MIX["doc_changed"]:
                doc = old
            else:
                own = [by_id[name]] if etype == "group" else [by_id[rng.choice(names)]]
                emp = rng.choice(employees_)
                doc = _doc(
                    rng, sz.lessons_per_doc, aud_names, own, emp,
                    with_exams=etype == "group",
                )
            rows.append((name, etype, json.dumps(doc, ensure_ascii=False)))
            model.append((name, etype, doc))
        return rows, model

    sched1, model1 = schedules(groups, employees, auditories)
    api_load = {
        "current_week": 5,
        "faculties": faculties,
        "departments": departments,
        "specialities": specialities,
        "student_groups": groups,
        "employees": employees,
        "auditories": auditories,
        "schedules": sched1,
    }

    # --- re-sync twin: a change on every endpoint -------------------------
    faculties2 = [dict(f) for f in faculties] + [
        {"id": sz.faculties + 1 + j, "name": f"Новый факультет {j}", "abbrev": f"NF{j}"}
        for j in range(2)
    ]
    for f in _share(rng, faculties2, CHANGE_MIX["dim_renamed"]):
        f["name"] += " (пересмотр)"
    departments2 = [dict(d) for d in departments] + [
        {"id": 100 + sz.departments + j, "name": f"Кафедра новая {j}",
         "abbrev": f"KN{j}", "urlId": f"kn{j}"}
        for j in range(3)
    ]
    for d in _share(rng, departments2, CHANGE_MIX["dim_renamed"]):
        d["name"] += " (пересмотр)"
    specialities2 = [dict(s) for s in specialities] + [
        {"id": 1000 + sz.specialities + j, "name": f"Новая специальность {j}",
         "abbrev": f"NS{j}", "code": f"2-{j:04d}",
         "educationForm": {"id": 2, "name": "Заочная"},
         "facultyId": rng.randint(1, sz.faculties)}
        for j in range(3)
    ]
    for s in _share(rng, specialities2, CHANGE_MIX["dim_renamed"]):
        s["name"] += " (пересмотр)"

    gidx = list(range(sz.groups))
    deleted = set(_share(rng, gidx, CHANGE_MIX["group_deleted"]))
    rest = [i for i in gidx if i not in deleted]
    type2 = set(_share(rng, rest, CHANGE_MIX["group_type2"]))
    type1 = set(_share(rng, [i for i in rest if i not in type2], CHANGE_MIX["group_type1"]))
    groups2 = []
    for i in rest:
        g = dict(groups[i])
        if i in type2:
            g["course"] = g["course"] % 4 + 1
        if i in type1:
            g["numberOfStudents"] += 1
        groups2.append(g)
    n_new = max(1, round(sz.groups * CHANGE_MIX["group_new"]))
    groups2 += [group(sz.groups + j) for j in range(n_new)]
    n_bad = max(1, round(sz.groups * CHANGE_MIX["group_new_bad_fk"]))
    bad_groups = [group(sz.groups + n_new + j) for j in range(n_bad)]
    for g in bad_groups:
        g["specialityDepartmentEducationFormId"] = 99999

    eidx = list(range(sz.employees))
    absent = set(_share(rng, eidx, CHANGE_MIX["employee_absent"]))
    present = [i for i in eidx if i not in absent]
    rank = set(_share(rng, present, CHANGE_MIX["employee_rank_changed"]))
    relink = set(_share(rng, present, CHANGE_MIX["employee_links_changed"]))
    employees2 = []
    for i in present:
        e = dict(employees[i])
        if i in rank:
            e["rank"] = "заведующий"
        if i in relink:
            e["academicDepartment"] = [f"K{rng.randrange(sz.departments)}", f"KN{i % 3}"]
        employees2.append(e)
    n_new = max(1, round(sz.employees * CHANGE_MIX["employee_new"]))
    employees2 += [employee(sz.employees + j) for j in range(n_new)]
    n_nourl = max(1, round(sz.employees * CHANGE_MIX["employee_new_no_url"]))
    for j in range(n_nourl):
        e = employee(sz.employees + n_new + j)
        e["urlId"] = None if j % 2 == 0 else ""
        employees2.append(e)

    auditories2 = [dict(a) for a in auditories]
    for a in _share(rng, auditories2, CHANGE_MIX["auditory_capacity_changed"]):
        a["capacity"] += 5
    n_new = max(1, round(sz.auditories * CHANGE_MIX["auditory_new"]))
    n_disc = max(1, round(sz.auditories * CHANGE_MIX["auditory_new_discovers_dept"]))
    for j in range(n_new):
        a = auditory(sz.auditories + j)
        if j < n_disc:
            a["department"] = {
                "idDepartment": 5000 + j,
                "name": f"Открытая кафедра {j}" if j % 2 == 0 else None,
                "abbrev": f"OK{j}",
            }
        auditories2.append(a)

    prev = {(etype, name): doc for name, etype, doc in model1 if doc is not None}
    sched2, model2 = schedules(groups2, employees2, auditories, prev)
    api_resync = {
        "current_week": 6,
        "faculties": faculties2,
        "departments": departments2,
        "specialities": specialities2,
        "student_groups": groups2 + bad_groups,
        "employees": employees2,
        "auditories": auditories2,
        "schedules": sched2,
    }

    model = IisModel()
    truth_load = model.sync(api_load, model1)
    truth_resync = model.sync(api_resync, model2)
    payload_bytes = len(json.dumps(
        {k: v for k, v in api_resync.items() if k != "schedules"},
        ensure_ascii=False,
    ).encode()) + sum(len(p.encode()) for _, _, p in sched2)
    lessons = sum(
        len(x) for _, _, d in model2 if d is not None for x in d["schedules"].values()
    )
    return IisInputs(api_load, api_resync, truth_load, truth_resync, payload_bytes, lessons)


# --------------------------------------------------------------------------
# SCHEDULE_EVENTS table for the occupancy rebuild
# --------------------------------------------------------------------------

EVENTS_SIZES = {"full": (150_000, 1500, 600), "tiny": (3000, 50, 40)}


def schedule_events_table(seed: int, size: str = "full") -> tuple[pa.Table, pa.Table]:
    """(schedule_events, auditories).  90% group rows; 3% exams (NULL
    day); 1-2 rooms per row, 2% of room names absent from the dim."""
    n, n_groups, n_auds = EVENTS_SIZES[size]
    rng = np.random.default_rng(seed)
    group_names = np.array([f"{300000 + i}" for i in range(n_groups)], dtype=object)
    aud_names = np.array(
        [f"{100 + i}-{1 + i % 8} к." for i in range(n_auds)], dtype=object
    )
    is_group = rng.random(n) < 0.9
    entity = np.where(
        is_group,
        group_names[rng.integers(0, n_groups, n)],
        np.array([f"e-{i}" for i in range(500)], dtype=object)[rng.integers(0, 500, n)],
    )
    day = rng.integers(1, 7, n).astype(np.int32)
    day_valid = rng.random(n) >= 0.03
    slot = rng.integers(0, len(SLOTS), n)
    starts = np.array([_secs(s) for s, _ in SLOTS], dtype=np.int32)
    ends = np.array([_secs(e) for _, e in SLOTS], dtype=np.int32)

    # week lists from a 4-bit mask: 1..15 -> sorted non-empty subset of 1..4
    mask = rng.integers(1, 16, n)
    bits = (mask[:, None] >> np.arange(4)) & 1
    week_values = np.nonzero(bits)[1].astype(np.int32) + 1
    week_offsets = np.concatenate([[0], np.cumsum(bits.sum(axis=1))]).astype(np.int32)

    n_rooms = np.where(rng.random(n) < 0.3, 2, 1)
    room_idx = rng.integers(0, n_auds, int(n_rooms.sum()))
    room_names = aud_names[room_idx].copy()
    unknown = rng.random(len(room_names)) < 0.02
    room_names[unknown] = "нет-такой"
    room_offsets = np.concatenate([[0], np.cumsum(n_rooms)]).astype(np.int32)

    events = pa.table(
        {
            "entity_name": pa.array(entity, pa.string()),
            "entity_type": pa.array(np.where(is_group, "group", "employee"), pa.string()),
            "subject": pa.array(
                np.char.add("Предмет ", rng.integers(0, 400, n).astype(str)), pa.string()
            ),
            "auditories": pa.ListArray.from_arrays(
                pa.array(room_offsets), pa.array(room_names, pa.string())
            ),
            "day_of_week": pa.array(day, pa.int32(), mask=~day_valid),
            "start_time": pa.array(starts[slot], pa.int32()),
            "end_time": pa.array(ends[slot], pa.int32()),
            "week_numbers": pa.ListArray.from_arrays(
                pa.array(week_offsets), pa.array(week_values, pa.int32())
            ),
            "subgroup": pa.array(rng.integers(0, 3, n).astype(np.int32), pa.int32()),
        }
    )
    auditories = pa.table(
        {
            "id": pa.array(np.arange(70000, 70000 + n_auds), pa.int64()),
            "name": pa.array(aud_names, pa.string()),
        }
    )
    return events, auditories


# --------------------------------------------------------------------------
# near-duplicate corpus for dedup curation
# --------------------------------------------------------------------------

CORPUS_SIZES = {"full": 1500, "tiny": 300}
EXACT_SHARE = 0.05
NEAR_SHARE = 0.10


@dataclass
class Corpus:
    table: pa.Table  # doc_id: int64, text: string
    exact_copies: set  # ids that duplicate an earlier doc up to case/punct
    near_copies: set  # ids planted as near duplicates of an earlier doc


def dedup_corpus(seed: int, size: str = "full") -> Corpus:
    """Base documents of 40-80 words from a 4000-word vocabulary; 5% of
    ids are exact copies (case and punctuation changed, which the
    canonical fingerprint ignores) and 10% near copies (3% of words
    replaced, word-3-gram Jaccard about 0.8)."""
    n = CORPUS_SIZES[size]
    rng = random.Random(seed)
    vocab = [f"w{i}{chr(97 + i % 26)}" for i in range(4000)]
    texts: list[str] = []
    exact, near = set(), set()
    for i in range(n):
        r = rng.random()
        if i > 10 and r < EXACT_SHARE:
            src = texts[rng.randrange(i)]
            texts.append(src.upper().replace(" ", " , ", 1) + " !")
            exact.add(i)
        elif i > 10 and r < EXACT_SHARE + NEAR_SHARE:
            words = texts[rng.randrange(i)].split()
            for _ in range(max(1, len(words) * 3 // 100)):
                words[rng.randrange(len(words))] = rng.choice(vocab)
            texts.append(" ".join(words))
            near.add(i)
        else:
            texts.append(" ".join(rng.choice(vocab) for _ in range(rng.randint(40, 80))))
    table = pa.table(
        {"doc_id": pa.array(range(n), pa.int64()), "text": pa.array(texts, pa.string())}
    )
    return Corpus(table, exact, near)
