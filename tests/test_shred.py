"""Golden tests for the schedule-document shredder (FIXTURES.md A6):
week defaults, heterogeneous auditory lists, lesson/exam time-parse
asymmetry, Python-`or` empty-string semantics, search text."""

from __future__ import annotations

import datetime as dt
import json

from uma_etl_iis_loader_spark.operators.shred import (
    backfill_student_counts,
    parse_schedule_json,
    shred_schedule_docs,
)

LESSON_OK = {
    "subject": "ООП",
    "subjectFullName": "Объектно-ориентированное программирование",
    "startLessonTime": "9:00",
    "endLessonTime": "10:20",
    "weekNumber": [1, 3],
    "numSubgroup": 1,
    "auditories": [{"id": 101, "name": "311-4"}, {"id": 202, "name": None}],
    "employees": [{"firstName": "Иван", "lastName": "Петров", "middleName": None, "urlId": "ip"}],
    "studentGroups": [{"name": "253501", "numberOfStudents": 28}],
}
LESSON_EMPTY_SUBJECT = {
    "subject": "",  # Python `or` treats '' as missing → 'Без названия'
    "subjectFullName": None,
    "startLessonTime": "11:40",
    "endLessonTime": "13:00",
    "weekNumber": [0],  # [0] → [1,2,3,4]
    "numSubgroup": None,  # → 0
    "auditories": [],
    "employees": [],
    "studentGroups": [{"name": "253501", "numberOfStudents": 25}],
}
LESSON_BAD_TIME = {
    "subject": "Физика",
    "startLessonTime": "xx:yy",  # invalid lesson time → row dropped
    "endLessonTime": "10:20",
    "weekNumber": [],
    "studentGroups": [],
}
EXAM_OK = {
    "subject": None,  # → 'Экзамен'
    "startLessonTime": "bogus",  # invalid exam time → 00:00, row KEPT
    "endLessonTime": "10:00",
    "dateLesson": "15.06.2024",
}
EXAM_BAD_DATE = {
    "subject": "X",
    "startLessonTime": "9:00",
    "endLessonTime": "10:00",
    "dateLesson": "not-a-date",  # → exam dropped
}

DOC = {
    "schedules": {
        "Понедельник": [LESSON_OK, LESSON_BAD_TIME],
        "Среда": [LESSON_EMPTY_SUBJECT],
        "НеДень": [LESSON_OK],  # unknown day key → skipped
    },
    "exams": [EXAM_OK, EXAM_BAD_DATE],
}


def _docs_df(spark):
    raw = spark.createDataFrame(
        [
            ("253501", "group", json.dumps(DOC, ensure_ascii=False)),
            ("broken", "group", "{not json"),
        ],
        "entity_name string, entity_type string, payload string",
    )
    return parse_schedule_json(raw)


def test_quarantine_isolates_bad_documents(spark):
    docs, quarantine = _docs_df(spark)
    assert docs.count() == 1
    assert [r.entity_name for r in quarantine.collect()] == ["broken"]


def test_shred_semantics(spark):
    docs, _ = _docs_df(spark)
    events = {
        (r.subject, r.day_of_week): r for r in shred_schedule_docs(docs).collect()
    }
    # bad-time lesson dropped, unknown day dropped, bad-date exam dropped
    assert set(events) == {
        ("ООП", 1),
        ("Без названия", 3),
        ("Экзамен", None),
    }

    ok = events[("ООП", 1)]
    assert ok.start_time == 9 * 3600 and ok.end_time == 10 * 3600 + 20 * 60
    assert ok.week_numbers == [1, 3]
    assert ok.auditories == ["311-4", "202"]  # dict-name, fallback str(id)
    assert ok.subgroup == 1
    # search matches the PERSISTED reference vector (subject/full/entity/
    # rooms only — logic.py:394-404; its people-bearing search_parts list
    # is dead code and never stored)
    assert "Петров" not in ok.search_text
    assert "253501" in ok.search_text
    assert "311" in ok.search_tokens and "ооп" in ok.search_tokens

    empt = events[("Без названия", 3)]
    assert empt.subject_full == "Без названия"  # '' falls through twice
    assert empt.week_numbers == [1, 2, 3, 4]  # [0] → default
    assert empt.subgroup == 0

    exam = events[("Экзамен", None)]
    # pairwise reset (logic.py:366-370): ONE bad time zeroes BOTH, row kept
    assert exam.start_time == 0
    assert exam.end_time == 0
    assert exam.exact_date == dt.date(2024, 6, 15)
    assert exam.week_numbers == []


def test_backfill_student_counts(spark):
    docs, _ = _docs_df(spark)
    got = {(r.entity_name, r.number_of_students) for r in backfill_student_counts(docs).collect()}
    # min positive count across lessons naming the own group (25 < 28)
    assert got == {("253501", 25)}


def _count_expressions(plan, class_name: str) -> int:
    """Occurrences of a Catalyst expression class anywhere in a plan."""

    def items(seq):
        it = seq.iterator()
        while it.hasNext():
            yield it.next()

    n = 0
    nodes = [plan]
    while nodes:
        node = nodes.pop()
        exprs = list(items(node.expressions()))
        while exprs:
            e = exprs.pop()
            n += e.getClass().getSimpleName() == class_name
            exprs.extend(items(e.children()))
        nodes.extend(items(node.children()))
    return n


def test_shred_plan_parses_json_once(spark):
    """The parse barrier in ``parse_schedule_json`` keeps the optimizer
    from cloning ``from_json`` into every field extractor: the shred plan
    holds exactly one JsonToStructs, i.e. one JSON parse per row."""
    docs, _ = _docs_df(spark)
    plan = shred_schedule_docs(docs)._jdf.queryExecution().optimizedPlan()
    assert _count_expressions(plan, "JsonToStructs") == 1
