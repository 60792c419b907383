

def test_winnow_fingerprints_guarantee_and_robustness(spark):
    """Winnowing guarantee: documents sharing a substring of length ≥
    k+window-1 share at least one fingerprint; whitespace/case noise is
    canonicalized away; disjoint texts share (practically) nothing."""
    from uma_etl_iis_loader_spark.functions.text import winnow_fingerprints

    shared = "the quick brown fox jumps over the lazy dog tonight"
    rows = [
        (1, f"PREFIX AAA {shared} suffix one"),
        (2, f"other beginning {shared} ZZ end"),
        (3, f"  The   Quick Brown fox jumps over the lazy DOG tonight  "),
        (4, "completely different content about shuffle partitions"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fp = winnow_fingerprints(k=5, window=4)
    got = {
        r.doc_id: set(r.fps)
        for r in df.select("doc_id", fp("text").alias("fps")).collect()
    }
    assert got[1] & got[2]  # shared substring → shared fingerprint
    assert got[3] & got[1]  # case/whitespace-insensitive
    assert not (got[1] & got[4])  # unrelated docs don't collide
    # determinism
    got2 = {
        r.doc_id: set(r.fps)
        for r in df.select("doc_id", fp("text").alias("fps")).collect()
    }
    assert got == got2


def test_ru_light_stem_golden_pairs(spark):
    """Inflection pairs collapse to one lexeme (the tsvector-like
    behavior the raw-token path lacks); non-Cyrillic tokens and short
    stems pass through unchanged."""
    from uma_etl_iis_loader_spark.functions.text import ru_light_stem

    from pyspark.sql import functions as F

    pairs = [
        ("лекции", "лекция"),
        ("студентов", "студенты"),
        ("кафедрой", "кафедра"),
        ("расписанию", "расписание"),
        ("занятие", "занятия"),
        ("аудитория", "аудитории"),
        ("математика", "математики"),
        ("информатике", "информатика"),
        ("корпуса", "корпус"),
        ("тёмный", "темный"),  # ё→е normalization
    ]
    rows = [(a, b) for a, b in pairs]
    df = spark.createDataFrame(rows, "a string, b string").select(
        ru_light_stem("a").alias("sa"), ru_light_stem("b").alias("sb")
    )
    for r in df.collect():
        assert r.sa == r.sb, f"{r.sa} != {r.sb}"

    passthrough = ["дом", "мир", "и", "по", "emp-7", "123", "prio", "gpu"]
    df2 = spark.createDataFrame([(w,) for w in passthrough], "w string")
    got = [r[0] for r in df2.select(ru_light_stem("w")).collect()]
    assert got == passthrough


def test_tokenize_stemmed_dedups_lexemes(spark):
    """Distinct inflections of one lemma yield ONE token after stemming."""
    from uma_etl_iis_loader_spark.functions.text import tokenize_stemmed

    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("Лекции по лекция: аудитория аудитории!",)], "text string"
    )
    toks = df.select(tokenize_stemmed("text").alias("t")).collect()[0].t
    assert toks.count("лекц") == 1
    assert toks.count("аудитор") == 1
    assert "по" in toks  # short word untouched


def test_repetition_signals(spark):
    """distinct_word_count / top_ngram_count: the Gopher-style repetition
    inputs (type-token ratio, top-bigram occurrence)."""
    from uma_etl_iis_loader_spark.functions.text import (
        distinct_word_count,
        top_ngram_count,
    )

    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),        # 2 distinct words; 'a b' occurs 3x
            (2, "all words differ here"),  # no repeated bigram
            (3, "Spam SPAM spam"),     # case-folds to 1 distinct word
            (4, "one"),                # shorter than bigram -> 0
            (5, ""),                   # empty -> (0, 0)
        ],
        "id long, text string",
    )
    out = {
        r["id"]: (r["d"], r["t"])
        for r in df.select(
            "id",
            distinct_word_count("text").alias("d"),
            top_ngram_count("text", 2).alias("t"),
        ).collect()
    }
    assert out == {1: (2, 3), 2: (4, 1), 3: (1, 2), 4: (1, 0), 5: (0, 0)}


def test_pii_redaction_and_counts(spark):
    from uma_etl_iis_loader_spark.functions.text import pii_counts, redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail me at jane.doe+x@example.co.uk or visit https://a.b/c?d=1"),
            (2, "server 10.0.255.1 answered; call +1 (555) 123-4567 now"),
            (3, "www.example.org mirrors 192.168.0.1"),
            (4, "no pii here at all"),
        ],
        "id long, text string",
    )
    out = {
        r["id"]: (r["red"], r["c"].asDict())
        for r in df.select(
            "id",
            redact_pii("text").alias("red"),
            pii_counts("text").alias("c"),
        ).collect()
    }
    assert out[1][0] == "mail me at <EMAIL> or visit <URL>"
    assert out[1][1] == {"email": 1, "url": 1, "ip": 0, "phone": 0}
    assert out[2][0] == "server <IP> answered; call <PHONE> now"
    assert out[2][1] == {"email": 0, "url": 0, "ip": 1, "phone": 1}
    # url wins over the dotted-quad inside it; the bare ip is tagged
    assert out[3][0] == "<URL> mirrors <IP>"
    assert out[4][0] == "no pii here at all"
    assert out[4][1] == {"email": 0, "url": 0, "ip": 0, "phone": 0}


def test_ru_stem_parity_vs_snowball_reference():
    """Measured parity with the dictionary-grade algorithm behind
    to_tsvector('russian', ...): token-level agreement between the
    regex light stemmer and a pure-Python implementation of the
    published Snowball Russian algorithm
    (tests/snowball_ru_reference.py), over a golden corpus of inflected
    schedule-domain paradigms. Pure-Python check (re module applies the
    same pattern Java regex/RE2 do — portability is separately pinned by
    the hash-green search_tokenize oracle row)."""
    import re

    from snowball_ru_reference import snowball_ru

    from uma_etl_iis_loader_spark.functions.text import RU_STEM_CHAIN

    chain = [(re.compile(p), g2) for p, g2 in RU_STEM_CHAIN]

    def light(w: str) -> str:
        w = w.replace("ё", "е")
        for pat, g2 in chain:
            m = pat.match(w)
            if m:
                w = ((m.group(1) or "") + (m.group(2) or "")) if g2 else m.group(1)
        return w

    paradigms = {
        "студент": ["студент", "студента", "студенту", "студентом",
                    "студенты", "студентов", "студентам", "студентами",
                    "студентах"],
        "аудитория": ["аудитория", "аудитории", "аудиторию",
                      "аудиторией", "аудиторий", "аудиториям",
                      "аудиториях"],
        "расписание": ["расписание", "расписания", "расписанию",
                       "расписанием", "расписаний", "расписаниях"],
        "группа": ["группа", "группы", "группе", "группу", "группой",
                   "групп", "группам", "группами", "группах"],
        "лекция": ["лекция", "лекции", "лекцию", "лекцией", "лекций",
                   "лекциям", "лекциями", "лекциях"],
        "занятие": ["занятие", "занятия", "занятию", "занятием",
                    "занятий", "занятиях"],
        "преподаватель": ["преподаватель", "преподавателя",
                          "преподавателю", "преподавателем",
                          "преподаватели", "преподавателей",
                          "преподавателями"],
        "корпус": ["корпус", "корпуса", "корпусу", "корпусом",
                   "корпусе", "корпусов"],
        "неделя": ["неделя", "недели", "неделю", "неделей", "недель",
                   "неделям", "неделями", "неделях"],
        "экзамен": ["экзамен", "экзамена", "экзамену", "экзаменом",
                    "экзамены", "экзаменов"],
        "кафедра": ["кафедра", "кафедры", "кафедре", "кафедру",
                    "кафедрой", "кафедр"],
        "новый": ["новый", "новая", "новое", "новые", "нового", "новой",
                  "новому", "новым", "новыми", "новых"],
        "учебный": ["учебный", "учебная", "учебное", "учебные",
                    "учебного", "учебной", "учебному", "учебным",
                    "учебных"],
        "большой": ["большой", "большая", "большое", "большие",
                    "большого", "большому", "большим", "больших"],
        "читать": ["читать", "читает", "читаю", "читал", "читала",
                   "читали", "читают", "читаем"],
        "работать": ["работать", "работает", "работаю", "работал",
                     "работала", "работали", "работают"],
        "история": ["история", "истории", "историю", "историей",
                    "историям"],
        "вторник": ["вторник", "вторника", "вторнику", "вторником"],
        "суббота": ["суббота", "субботы", "субботе", "субботу",
                    "субботой"],
    }
    words = [w for forms in paradigms.values() for w in forms]
    agree = sum(1 for w in words if light(w) == snowball_ru(w))
    rate = agree / len(words)
    # measured 1.00 on this corpus after the verb-pass additions
    # (was 0.84 with the noun/adjective-only pattern); floor leaves
    # margin for corpus growth
    assert rate >= 0.95, f"agreement {rate:.3f} ({agree}/{len(words)})"

    # every paradigm still collapses at least as tightly as Snowball
    # itself does (the light stemmer may not split where Snowball merges)
    for lemma, forms in paradigms.items():
        n_light = len({light(w) for w in forms})
        n_snow = len({snowball_ru(w) for w in forms})
        assert n_light <= max(n_snow, 1) or n_light <= 2, (
            lemma, {light(w) for w in forms},
        )

    # The round-6 chain closes the three formerly-documented deviations
    # (-ость derivational in R2, нн-undoubling, superlative) — pin each:
    assert light("важность") == snowball_ru("важность") == "важност"
    # (derivational -ост only strips in R2 — both keep it here)
    assert light("государственность") == snowball_ru(
        "государственность"
    ) == "государствен"  # R2 strip + нн undoubling, both sides
    assert light("длинный") == snowball_ru("длинный") == "длин"
    assert light("добрейший") == snowball_ru("добрейший") == "добр"
    assert light("читается") == snowball_ru("читается") == "чита"
    # the ONE remaining deviation: ≥3-char stem guard on the main
    # pattern (a precision device Snowball lacks)
    assert light("оса") == "оса"  # guard keeps short words intact
    assert snowball_ru("оса") == "ос"  # snowball strips to a 2-char stem


def test_ru_stem_parity_stress_corpus():
    """Generated stem×ending stress corpus (every Snowball ending table
    crossed with 38 schedule-domain stems, ~4.4k distinct tokens):
    measured agreement 99.57% after the round-6 chain passes (was 86.2%
    with the single-suffix pattern). The residue is (a) pseudo-word
    double-и pileups (stems already ending in и + и-initial endings) and
    (b) the main pattern's char-count guard standing in for Snowball's
    RV condition on 3-char prefixes (e.g. 'строго' → 'стр' vs 'строг').
    Floor 0.985 leaves margin for corpus growth."""
    import re

    from snowball_ru_reference import snowball_ru

    from uma_etl_iis_loader_spark.functions.text import RU_STEM_CHAIN

    chain = [(re.compile(p), g2) for p, g2 in RU_STEM_CHAIN]

    def light(w: str) -> str:
        w = w.replace("ё", "е")
        for pat, g2 in chain:
            m = pat.match(w)
            if m:
                w = ((m.group(1) or "") + (m.group(2) or "")) if g2 else m.group(1)
        return w

    stems = [
        "студент", "аудитори", "расписани", "групп", "лекци", "занят",
        "преподавател", "корпус", "недел", "экзамен", "кафедр", "нов",
        "учебн", "больш", "чита", "работа", "истори", "вторник",
        "суббот", "стоим", "государствен", "быстр", "главн", "сильн",
        "красив", "умн", "делова", "строг", "высок", "точн", "бедн",
        "длин", "верн", "радост", "гордост", "скорост", "молодост",
        "крепост",
    ]
    endings = [
        "", "а", "я", "о", "е", "и", "й", "ы", "у", "ю", "ь", "ая",
        "яя", "ую", "юю", "ое", "ее", "ие", "ые", "ой", "ей", "ый",
        "ий", "ом", "ем", "им", "ым", "их", "ых", "ою", "ею", "ами",
        "ями", "иями", "ах", "ях", "иях", "ам", "ям", "иям", "ов",
        "ев", "его", "ого", "ему", "ому", "ыми", "ими", "ией", "ием",
        "ия", "ья", "ью", "ии", "ию", "ть", "ет", "ют", "ешь", "ете",
        "йте", "ла", "на", "ли", "ло", "но", "ны", "л", "н", "в",
        "ила", "ыла", "или", "ыли", "ило", "ыло", "ена", "ено", "ены",
        "ишь", "ить", "ыть", "ует", "уют", "ит", "ят", "ил", "ыл",
        "ен", "вшись", "вши", "ившись", "ывшись", "ивши", "ывши",
        "ив", "ыв", "нно", "ейший", "ейшая", "ейшее", "ейшие", "ость",
        "ости", "остью", "ностью", "ся", "сь", "лся", "лась", "ется",
        "ются",
    ]
    words = sorted({s + e for s in stems for e in endings})
    assert len(words) >= 4000
    agree = sum(1 for w in words if light(w) == snowball_ru(w))
    rate = agree / len(words)
    assert rate >= 0.985, f"agreement {rate:.4f} ({agree}/{len(words)})"


# ---------------------------------------------------------------------------
# web-corpus cleaning: strip_html / normalize_unicode_udf
# ---------------------------------------------------------------------------


def test_strip_html_goldens(spark):
    from uma_etl_iis_loader_spark.functions.text import strip_html

    html = (
        "<html><head><style>p { color: red }</style>"
        "<script>var x = '<p>not text</p>';</script></head>"
        "<body><!-- nav -->"
        "<h1>Title</h1><p>First &amp; second &lt;para&gt;.</p>"
        "<div>Item&nbsp;one <b>bold</b> text.</div>"
        "<ul><li>a</li><li>b</li></ul></body></html>"
    )
    df = spark.createDataFrame([(html,)], "text string")
    out = df.select(strip_html("text").alias("t")).collect()[0].t
    assert out.split("\n") == [
        "Title",
        "First & second <para>.",
        "Item one bold text.",
        "a",
        "b",
    ]
    # script/style contents are gone, not just the tags
    assert "not text" not in out and "color" not in out


def test_strip_html_plain_text_passthrough(spark):
    from uma_etl_iis_loader_spark.functions.text import strip_html

    df = spark.createDataFrame(
        [("already clean, 2 < 3 stays",), (None,)], "text string"
    )
    rows = df.select(strip_html("text").alias("t")).collect()
    # note: a bare '<' with no closing '>' on the same run is left alone
    assert rows[0].t == "already clean, 2 < 3 stays"
    assert rows[1].t is None


def test_normalize_unicode_nfkc_and_mojibake(spark):
    from uma_etl_iis_loader_spark.functions.text import normalize_unicode_udf
    from pyspark.sql import functions as F

    norm = normalize_unicode_udf()
    # REAL mojibake: utf-8 bytes mis-decoded as cp1252 (not hand-typed —
    # 'à' becomes 'Ã' + nbsp, which a literal space would get wrong)
    mojibake = "Café déjà vu".encode("utf-8").decode("cp1252")
    df = spark.createDataFrame(
        [
            ("ﬁne ﬂow",),          # ligatures
            ("Ｆｕｌｌｗｉｄｔｈ １２３",),  # full-width forms
            (mojibake,),
            ("plain ascii",),
            (None,),
        ],
        "text string",
    )
    got = [r.t for r in df.select(norm(F.col("text")).alias("t")).collect()]
    assert got[0] == "fine flow"
    assert got[1] == "Fullwidth 123"
    assert got[2] == "Café déjà vu"
    assert got[3] == "plain ascii"
    assert got[4] is None


def test_normalize_unicode_repair_never_corrupts(spark):
    """Text that LOOKS like mojibake but isn't valid double-encoding must
    pass through un-'repaired' (the strict encode/decode gate)."""
    from uma_etl_iis_loader_spark.functions.text import normalize_unicode_udf
    from pyspark.sql import functions as F

    norm = normalize_unicode_udf()
    s = "Ã is a real letter here"  # cp1252 bytes Ã + space → invalid utf-8
    df = spark.createDataFrame([(s,)], "text string")
    assert df.select(norm(F.col("text")).alias("t")).collect()[0].t == s


def test_extract_domain(spark):
    from uma_etl_iis_loader_spark.functions.text import extract_domain

    df = spark.createDataFrame(
        [
            ("https://www.Example.com/path?q=1",),
            ("http://sub.site.org:8080/x",),
            ("example.com/page",),
            ("www.only-host.net",),
            ("",),
            (None,),
        ],
        "url string",
    )
    got = [r.d for r in df.select(extract_domain("url").alias("d")).collect()]
    assert got == [
        "example.com",
        "site.org",  # eTLD+1: subdomains of one site collapse
        "example.com",
        "only-host.net",
        None,
        None,
    ]
    # psl=False restores the raw-host behavior
    raw = [
        r.d
        for r in df.select(extract_domain("url", psl=False).alias("d")).collect()
    ]
    assert raw[1] == "sub.site.org"


def test_extract_domain_etld1_psl_rules(spark):
    """PSL semantics goldens: multi-label registry suffixes (co.uk),
    private platform suffixes (github.io — each user site is its own
    domain), wildcard (*.ck) + exception (!www.ck), default rule for
    unknown TLDs, bare-suffix → NULL, IPv4 pass-through, and
    user-supplied rule lists."""
    from uma_etl_iis_loader_spark.functions.text import extract_domain

    cases = [
        # (url, expected eTLD+1)
        ("https://a.co.uk/x", "a.co.uk"),
        ("https://news.b.co.uk/x", "b.co.uk"),  # a.co.uk ≠ b.co.uk
        ("http://deep.sub.example.co.uk", "example.co.uk"),
        ("https://alice.github.io/repo", "alice.github.io"),
        ("https://bob.github.io", "bob.github.io"),  # stays distinct
        ("http://blog.example.com/p", "example.com"),
        ("http://x.y.z.example.org", "example.org"),
        ("https://foo.bar.unknowntld", "bar.unknowntld"),  # default rule
        ("http://anything.foo.ck/", "anything.foo.ck"),  # wildcard *.ck
        ("http://sub.www.ck/", "www.ck"),  # exception !www.ck
        ("http://co.uk", None),  # bare public suffix: no registrable dom
        ("http://com", None),
        ("http://localhost", None),
        ("http://192.168.10.1:8080/x", "192.168.10.1"),  # IPv4 key
        ("https://shop.example.com.au", "example.com.au"),
        ("https://page.fan.blogspot.com", "fan.blogspot.com"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [
        r.d for r in df.select(extract_domain("url").alias("d")).collect()
    ]
    assert got == [e for _, e in cases], list(
        zip([u for u, _ in cases], got, [e for _, e in cases])
    )

    # user-supplied full-list override (PSL file syntax: comments,
    # wildcards, exceptions)
    rules = ["// comment", "uk", "co.uk", "*.kw", "!edu.kw"]
    df2 = spark.createDataFrame(
        [("http://a.b.co.uk",), ("http://x.y.kw",), ("http://z.edu.kw",)],
        "url string",
    )
    got2 = [
        r.d
        for r in df2.select(
            extract_domain("url", suffixes=rules).alias("d")
        ).collect()
    ]
    assert got2 == ["b.co.uk", "x.y.kw", "edu.kw"]


def test_strip_html_escaped_entities_not_double_decoded(spark):
    """'&amp;lt;' is the AUTHOR-escaped literal '&lt;' — it must decode
    exactly once (to '&lt;'), never cascade to '<' (the &amp; rule runs
    last for this reason)."""
    from uma_etl_iis_loader_spark.functions.text import strip_html

    df = spark.createDataFrame(
        [("<p>use &amp;lt;b&amp;gt; for bold &amp; more</p>",)], "text string"
    )
    out = df.select(strip_html("text").alias("t")).collect()[0].t
    assert out == "use &lt;b&gt; for bold & more"


def test_extract_domain_www_exception_rule(spark):
    """A registrable domain that IS 'www.<suffix>' must survive: under
    PSL semantics the leading www is never pre-stripped (stripping it
    would turn www.ck — the !www.ck exception carve-out — into the bare
    wildcard suffix and yield NULL)."""
    from uma_etl_iis_loader_spark.functions.text import extract_domain

    df = spark.createDataFrame(
        [("http://www.ck/",), ("http://www.example.com/a",)], "url string"
    )
    got = [r.d for r in df.select(extract_domain("url").alias("d")).collect()]
    assert got == ["www.ck", "example.com"]


# --- C4 cleaning recipe ---


def test_c4_kept_lines_filters(spark):
    from pyspark.sql import functions as F

    from uma_etl_iis_loader_spark.functions.text import c4_kept_lines

    doc = "\n".join(
        [
            "This line ends with a period.",   # kept
            "Too short.",                      # 2 words -> dropped
            "no terminal punctuation here",    # dropped
            'He said "stop".',                 # kept (period)
            'A quoted line ends well"',        # kept (quote terminal)
            "   ",                             # blank -> dropped
            "Does this survive a question?",   # kept
        ]
    )
    df = spark.createDataFrame([(doc,)], "text string")
    kept = df.select(c4_kept_lines("text").alias("k")).collect()[0]["k"]
    assert kept == [
        "This line ends with a period.",
        'He said "stop".',
        'A quoted line ends well"',
        "Does this survive a question?",
    ]


def test_c4_page_keep_gates(spark):
    from pyspark.sql import functions as F

    from uma_etl_iis_loader_spark.functions.text import (
        c4_kept_lines,
        c4_page_keep,
        c4_sentence_count,
    )

    good = "\n".join(f"Sentence number {i} is fine." for i in range(6))
    short = "Only one good sentence here."
    lorem = good + "\nAnd some Lorem Ipsum filler."
    braced = good + "\nfunction() { return; }"
    df = spark.createDataFrame(
        [(1, good), (2, short), (3, lorem), (4, braced)], "doc_id int, text string"
    )
    rows = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            F.array_join(c4_kept_lines("text"), "\n").alias("cleaned"),
        )
        .select(
            "doc_id",
            c4_sentence_count("cleaned").alias("ns"),
            c4_page_keep(F.col("cleaned"), F.col("cleaned")).alias("keep_clean"),
        )
        .collect()
    }
    assert rows[1]["ns"] == 6 and rows[1]["keep_clean"]
    assert rows[2]["ns"] == 1 and not rows[2]["keep_clean"]
    # gates evaluate on the RAW text (markers may sit on dropped lines)
    raw_rows = {
        r["doc_id"]: r["keep"]
        for r in df.select(
            "doc_id",
            c4_page_keep(
                "text", F.array_join(c4_kept_lines("text"), "\n")
            ).alias("keep"),
        ).collect()
    }
    assert raw_rows == {1: True, 2: False, 3: False, 4: False}


def test_c4_zero_shuffle_plan(spark):
    from pyspark.sql import functions as F

    from uma_etl_iis_loader_spark.functions.text import (
        c4_kept_lines,
        c4_page_keep,
    )

    df = spark.createDataFrame([("a.\nb.",)], "text string")
    out = df.select(
        c4_kept_lines("text").alias("k"),
    ).select(
        F.array_join("k", "\n").alias("cleaned"),
        F.size("k").alias("n"),
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # narrow, codegen'd column kit


# --- Gopher quality rules ---


def _gopher_row(spark, text):
    from pyspark.sql import functions as F

    from uma_etl_iis_loader_spark.functions.text import (
        gopher_keep,
        gopher_metrics,
    )

    df = spark.createDataFrame([(text,)], "text string")
    return df.select(
        gopher_metrics("text").alias("m"),
    ).select("m.*", gopher_keep(F.col("m")).alias("keep")).collect()[0]


def test_gopher_metrics_counts(spark):
    text = "\n".join(
        [
            "the cat sat on the mat with a hat and that",  # stopwords
            "the cat sat on the mat with a hat and that",  # dup line
            "- bullet line here",
            "trailing ellipsis line...",
            "plain prose line to have some body of text",
        ]
    )
    r = _gopher_row(spark, text)
    assert r["n_words"] == 38  # 11 + 11 + 4 + 3 + 9
    # 'the be to of and that have with' -> the, with, and, that, have, to? text has: the, with, and, that, to(no), have(yes in last line)
    assert r["stop_hits"] >= 4
    assert r["bullet_frac_q6"] == 200000   # 1/5
    assert r["ellipsis_frac_q6"] == 200000  # 1/5
    assert r["dup_line_frac_q6"] == 200000  # 1 - 4/5
    # dup chars: the duplicated line occurs twice (2*43 chars)
    line = "the cat sat on the mat with a hat and that"
    total = len(text.replace("\n", ""))
    import math

    assert r["dup_char_frac_q6"] == round(2 * len(line) / total * 1e6)
    assert r["alpha_frac_q6"] >= 900000
    # too short for the 50-word floor -> dropped
    assert not r["keep"]


def test_gopher_empty_text_counts_zero_words(spark):
    # split('') yields [''] — the phantom word must not count
    for text in ("", "   \n  "):
        r = _gopher_row(spark, text)
        assert r["n_words"] == 0
        assert r["mean_wlen_q6"] == 0
        assert r["alpha_frac_q6"] == 0
        assert r["symbol_ratio_q6"] == 0
        assert not r["keep"]


def test_gopher_keep_accepts_good_prose(spark):
    good = " ".join(
        "the quick brown fox jumps over that lazy dog to have fun with energy and grace of motion be swift".split()
    )
    text = "\n".join(f"{good} line {i}." for i in range(4))
    r = _gopher_row(spark, text)
    assert r["n_words"] >= 50
    assert r["keep"]


def test_gopher_rejects_symbol_and_dup_heavy(spark):
    base = "the quick brown fox jumps over that lazy dog to have fun with grace"
    # symbol-heavy: one '#' per word
    hashy = " ".join("#" + w for w in (base + " ") * 5 == "" and [] or ((base + " ") * 5).split())
    r = _gopher_row(spark, hashy)
    assert r["symbol_ratio_q6"] > 100000 and not r["keep"]
    # dup-heavy: same line 10x
    dup = "\n".join([base + "."] * 10)
    r2 = _gopher_row(spark, dup)
    assert r2["dup_line_frac_q6"] == 900000 and not r2["keep"]


# --- n-gram repetition metrics (operators/repetition) ---


def test_repetition_metrics_planted(spark):
    import pandas as pd

    from uma_etl_iis_loader_spark.operators.repetition import (
        repetition_metrics,
    )

    spammy = " ".join(["buy now"] * 10)            # one dominant 2-gram
    fiver = "a b c d e " * 3 + "unique tail here"  # repeated 5-gram
    clean = "every word here appears exactly once in this document"
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "text": [spammy, fiver, clean, None],
            }
        )
    )
    rows = {
        r["doc_id"]: r for r in repetition_metrics(docs).collect()
    }
    assert set(rows) == {1, 2, 3}  # NULL text dropped
    # doc 1: 'now buy' x9 and 'buy now' x10 - top = 10*7=70 chars of 89
    assert rows[1]["n_chars"] == len(spammy)
    assert rows[1]["top_frac_q6"] == round(70 / len(spammy) * 1e6)
    # doc 3: no repeated gram at all
    assert rows[3]["top_frac_q6"] <= round(
        max(len(a) + len(b) + 1 for a, b in zip(clean.split(), clean.split()[1:]))
        / len(clean) * 1e6
    )
    assert rows[3]["dup_frac_q6"] == 0
    # doc 2: 'a b c d e' occurs 3x (9 chars) plus the overlapping
    # rotations 'b c d e a' x2, 'c d e a b' x2, 'd e a b c' x2,
    # 'e a b c d' x2 -> dup_score = 3*9 + 4*(2*9) = 99 of n_chars
    assert rows[2]["dup_frac_q6"] == round(
        min(99 / rows[2]["n_chars"], 1.0) * 1e6
    )


def test_repetition_metrics_short_docs_zero(spark):
    import pandas as pd

    from uma_etl_iis_loader_spark.operators.repetition import (
        repetition_metrics,
    )

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["one", ""]})
    )
    rows = {r["doc_id"]: r for r in repetition_metrics(docs).collect()}
    assert rows[1]["top_frac_q6"] == 0 and rows[1]["dup_frac_q6"] == 0
    assert rows[2]["top_frac_q6"] == 0 and rows[2]["dup_frac_q6"] == 0


def test_repetition_top_frac_capped_at_one(spark):
    # overlapping 2-grams over 'ab ab ab ab': 'ab ab' x3, 3*5=15 chars
    # attributed vs n_chars=11 — the fraction must cap at 1.0
    import pandas as pd

    from uma_etl_iis_loader_spark.operators.repetition import (
        repetition_metrics,
    )

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "text": ["ab ab ab ab"]})
    )
    r = repetition_metrics(docs).collect()[0]
    assert r["top_frac_q6"] == 1_000_000


def test_repetition_no_phantom_tokens_from_edge_whitespace(spark):
    # '\nhi' used to tokenize as ['', 'hi'] (trim strips only spaces),
    # creating a phantom 2-gram ' hi' that scored top_frac 1.0 on a
    # one-word doc — the filtered tokenization must report 0
    import pandas as pd

    from uma_etl_iis_loader_spark.operators.repetition import (
        repetition_metrics,
    )

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["\nhi", "\t a b a b \n"]})
    )
    rows = {r["doc_id"]: r for r in repetition_metrics(docs).collect()}
    assert rows[1]["top_frac_q6"] == 0 and rows[1]["dup_frac_q6"] == 0
    # doc 2: words [a,b,a,b] exactly — 'a b' x2 -> top_score 6 over
    # the RAW 11-char text (phantom '' grams would change the max)
    assert rows[2]["top_frac_q6"] == round(6 / 11 * 1e6)


def test_repetition_metrics_quotes_text_column_name(spark):
    # the text column name goes into a SQL string; a name with a space
    # must be quoted there and give the same metrics as under `text`
    import pandas as pd

    from uma_etl_iis_loader_spark.operators.repetition import (
        repetition_metrics,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": ["buy now " * 6, "a b c d e a b c d e tail", None],
        }
    )
    plain = repetition_metrics(spark.createDataFrame(pdf)).collect()
    spaced = repetition_metrics(
        spark.createDataFrame(pdf.rename(columns={"text": "body text"})),
        text_col="body text",
    ).collect()
    assert len(plain) == 2
    assert sorted(spaced) == sorted(plain)


def test_quote_ident_doubles_backticks():
    from uma_etl_iis_loader_spark.functions.text import quote_ident

    assert quote_ident("text") == "`text`"
    assert quote_ident("body text") == "`body text`"
    assert quote_ident("a`b") == "`a``b`"


# --- URL canonicalization ---


def test_canonicalize_url_rules(spark):
    from uma_etl_iis_loader_spark.functions.text import canonicalize_url

    cases = [
        # fragment stripped, scheme+host lowered, path case kept
        ("HTTPS://WWW.Ex.COM/Path/File#sec", "https://www.ex.com/Path/File"),
        # default ports dropped, non-default kept
        ("https://a.com:443/x", "https://a.com/x"),
        ("http://a.com:80/x", "http://a.com/x"),
        ("http://a.com:8080/x", "http://a.com:8080/x"),
        ("https://a.com:80/x", "https://a.com:80/x"),  # 80 not https default
        # utm params dropped wherever they sit; order of others kept
        ("http://a/p?utm_source=x&id=1&utm_b=2&z=3", "http://a/p?id=1&z=3"),
        ("http://a/p?utm_a=1&utm_b=2", "http://a/p"),
        ("http://a/p?id=1", "http://a/p?id=1"),
        # no query, no fragment: unchanged
        ("http://a/p", "http://a/p"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [
        r["c"] for r in df.select(canonicalize_url("url").alias("c")).collect()
    ]
    assert got == [want for _, want in cases]


def test_canonicalize_url_idempotent(spark):
    # canonicalization is a projection: applying it twice == once
    from uma_etl_iis_loader_spark.functions.text import canonicalize_url

    urls = [
        "HTTPS://WWW.Ex.COM:443/Path?utm_a=1&id=2&utm_b=3#frag",
        "http://a.com:80/",
        "http://a.com:8080/x?y=1",
        "https://b.org/p?utm_only=1",
        "ftp://weird.example/thing#x",
        "not a url at all",
        "",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    once = df.select(canonicalize_url("url").alias("c"))
    twice = once.select(canonicalize_url("c").alias("c"))
    assert [r["c"] for r in once.collect()] == [
        r["c"] for r in twice.collect()
    ]
