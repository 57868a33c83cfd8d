"""xpath operations (A4), alerting_check/dispatcher path, config surface."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from dawis_spark.config import load_configuration, validate
from dawis_spark.modules import get_module
from dawis_spark.modules.alerting import Dispatcher, evaluate as alerting_check
from dawis_spark.streaming.alerts import AlertQueue


def _xpath_df(spark, contents):
    rows = [
        ("https://e.de/", "c", "n", "//div", dt.datetime(2026, 5, 1), c)
        for c in contents
    ]
    return spark.createDataFrame(
        rows, "url string, cluster string, name string, query string, date timestamp, content string"
    )


def _results(spark, contents, config):
    import dawis_spark.modules.xpath  # noqa: F401
    out = get_module("xpath")(_xpath_df(spark, contents), config)
    return [r["element"]["result"] for r in out.collect()]


def test_xpath_length_and_null(spark):
    assert _results(spark, ["abcd"], {"operation": "length"}) == ["4"]
    assert _results(spark, ["abcd"], {"operation": "null"}) == [None]


def test_xpath_wordcount_reference_rules(spark):
    # len>1, first char is a letter, HTML stripped: 'of' counts, 'a' and
    # '42' don't, script content ignored
    html = "<div>The quick a 42 of<script>ignored tokens here</script></div>"
    assert _results(spark, [html], {"operation": "wordcount"}) == ["3"]


def test_xpath_regex_count_case_insensitive_default(spark):
    assert _results(
        spark, ["aA bB aa"], {"operation": "regex_count", "options": {"expression": "a{2}"}}
    ) == ["2"]
    assert _results(
        spark,
        ["aA bB aa"],
        {"operation": "regex_count", "options": {"expression": "a{2}", "caseSensitive": True}},
    ) == ["1"]


def test_xpath_regex_match_join_and_null(spark):
    assert _results(
        spark, ["x1 y2 z3"], {"operation": "regex_match", "options": {"expression": r"\d"}}
    ) == ["1|2|3"]
    assert _results(
        spark, ["no digits"], {"operation": "regex_match", "options": {"expression": r"\d"}}
    ) == [None]
    # multi-group tuples formatted '(g1),(g2)' (reference :246-252)
    assert _results(
        spark,
        ["a1 b2"],
        {"operation": "regex_match", "options": {"expression": r"([a-z])(\d)"}},
    ) == ["(a),(1)|(b),(2)"]


def test_xpath_rejects_unknown_operation(spark):
    with pytest.raises(ValueError):
        _results(spark, ["x"], {"operation": "explode"})


def test_alerting_check_per_line_and_dispatcher(spark, tmp_path):
    spark.createDataFrame(
        [("p1", 120.0), ("p2", 10.0)], "property string, clicks double"
    ).createOrReplaceTempView("t_alert")
    queue = AlertQueue(spark, str(tmp_path))
    alerts, log = alerting_check(
        spark,
        {
            "query": "SELECT property, clicks FROM t_alert",
            "groups": ["ops"],
            "message": "{property} dropped to {clicks}",
            "checksPerLine": ["{clicks} < 50"],
            "log": {"name": "clickcheck", "message": "ran"},
        },
        queue=queue,
    )
    assert [r["message"] for r in alerts.collect()] == ["p2 dropped to 10.0"]
    assert log.first()["success"] is False

    sent = []
    d = Dispatcher(queue, send=lambda rcpt, rows: sent.append((rcpt, len(rows))))
    delivered = d.dispatch({"ops": ["admin@example.de"]})
    assert delivered == {"ops": 1} and sent == [("admin@example.de", 1)]
    # at-least-once: committed -> second dispatch is a no-op
    assert d.dispatch({"ops": ["admin@example.de"]}) == {}


def test_alerting_dispatcher_failure_keeps_queue(spark, tmp_path):
    queue = AlertQueue(spark, str(tmp_path))
    queue.add(
        spark.createDataFrame(
            [(dt.datetime(2026, 5, 1), "ops", "m", None)],
            "date timestamp, group string, message string, data string",
        )
    )

    def failing_send(rcpt, rows):
        raise ConnectionError("smtp down")

    d = Dispatcher(queue, send=failing_send)
    with pytest.raises(ConnectionError):
        d.dispatch({"ops": ["a@b"]})
    # watermark NOT advanced -> alert redelivered next run
    assert queue.fetch(["ops"]).count() == 1


def test_wrike_request_builder():
    from dawis_spark.modules.alerting import wrike_request

    # POST: parameters become the JSON body
    req = wrike_request(
        "post", "/folders/F1/tasks", {"title": "t"}, api_token="tok"
    )
    assert req["method"] == "POST"
    assert req["url"] == "https://www.wrike.com/api/v4/folders/F1/tasks"
    assert req["headers"]["Authorization"] == "bearer tok"
    assert req["json"] == {"title": "t"}
    # GET: params urlencoded, dict/list values JSON-serialized (wrike.py:41-44)
    req = wrike_request(
        "GET", "/folders", {"permalink": "https://x/y?id=1", "f": {"a": 1}},
        api_host="app-eu.wrike.com",
    )
    assert req["url"].startswith("https://app-eu.wrike.com/api/v4/folders?")
    assert "permalink=https%3A//x/y%3Fid%3D1" in req["url"]
    assert "f=%7B%22a%22%3A%201%7D" in req["url"]
    with pytest.raises(ValueError):
        wrike_request("PATCH", "/x")
    with pytest.raises(ValueError):
        wrike_request("GET", "/x", api_host="wrike.example.com")


def test_wrike_task_payload_rules():
    from dawis_spark.modules.alerting import wrike_task_payload

    # single date fills both endpoints (wrike.py:122-131)
    p = wrike_task_payload("T", "d", ["U1"], date_start=dt.date(2026, 5, 1))
    assert p == {
        "title": "T",
        "description": "d",
        "dates": {"start": "2026-05-01", "due": "2026-05-01"},
        "responsibles": ["U1"],
    }
    p = wrike_task_payload("T", date_end=dt.date(2026, 5, 2))
    assert p["dates"] == {"start": "2026-05-02", "due": "2026-05-02"}
    assert "responsibles" not in p and "description" not in p
    with pytest.raises(ValueError):
        wrike_task_payload("")


def test_wrike_descriptions_per_alert_vs_summarized():
    from dawis_spark.modules.alerting import wrike_alert_descriptions

    alerts = [
        {"message": "a\nb", "data": '{"k": 1}'},
        {"message": "c", "data": None},
    ]
    per = wrike_alert_descriptions(alerts)
    assert len(per) == 2
    assert per[0].startswith("a<br/>b<br/><br/>")  # newline -> <br/>
    assert '"k": 1' in per[0]  # pretty-printed data appended
    summary = wrike_alert_descriptions(alerts, summarize=True)
    assert len(summary) == 1 and summary[0] == per[0] + per[1]
    # addAlertData=False drops the data sections
    bare = wrike_alert_descriptions(alerts, add_alert_data=False)
    assert bare == ["a<br/>b<br/><br/>", "c<br/><br/>"]


def test_dispatch_wrike_modes_and_atleast_once(spark, tmp_path):
    queue = AlertQueue(spark, str(tmp_path))
    queue.add(
        spark.createDataFrame(
            [
                (dt.datetime(2026, 5, 1), "ops", "m1", None),
                (dt.datetime(2026, 5, 1), "ops", "m2", None),
            ],
            "date timestamp, group string, message string, data string",
        )
    )
    requests = []
    d = Dispatcher(queue, send=lambda r, rows: None)

    def failing_transport(req):
        raise ConnectionError("wrike down")

    with pytest.raises(ConnectionError):
        d.dispatch_wrike(["ops"], "F1", failing_transport)
    # watermark NOT advanced -> redelivered, this time summarized: ONE task
    n = d.dispatch_wrike(
        ["ops"], "F1", lambda req: requests.append(req) or {"data": [{}]},
        api_token="tok", summarize=True,
        task_date=dt.date(2026, 5, 2),
    )
    assert n == 1 and len(requests) == 1
    req = requests[0]
    assert req["url"].endswith("/folders/F1/tasks") and req["method"] == "POST"
    assert "m1" in req["json"]["description"] and "m2" in req["json"]["description"]
    assert req["json"]["dates"] == {"start": "2026-05-02", "due": "2026-05-02"}
    # committed -> nothing left
    assert d.dispatch_wrike(["ops"], "F1", failing_transport) == 0


def test_multipart_email_message(spark, tmp_path):
    """Text + HTML parts in one message dict (service/email/dispatcher.py:
    38-57) and dispatch delivering through send_message."""
    queue = AlertQueue(spark, str(tmp_path))
    queue.add(
        spark.createDataFrame(
            [(dt.datetime(2026, 5, 1), "ops", "disk full", None)],
            "date timestamp, group string, message string, data string",
        )
    )
    messages = []
    d = Dispatcher(
        queue,
        send=lambda r, rows: None,
        html_renderer=Dispatcher.render_html,
        send_message=lambda rcpt, msg: messages.append((rcpt, msg)),
    )
    assert d.dispatch({"ops": ["a@b.de"]}) == {"ops": 1}
    (rcpt, msg), = messages
    assert rcpt == "a@b.de" and msg["to"] == "a@b.de"
    subtypes = [p["subtype"] for p in msg["parts"]]
    assert subtypes == ["plain", "html"]
    assert "disk full" in msg["parts"][0]["content"]
    assert "<li>" in msg["parts"][1]["content"] and "disk full" in msg["parts"][1]["content"]
    # text-only dispatcher builds a single-part message (send_text_email)
    d2 = Dispatcher(queue, send=lambda r, rows: None)
    m = d2.build_message([{"date": "d", "message": "x"}])
    assert [p["subtype"] for p in m["parts"]] == ["plain"]


def test_alerting_aggregate_mode(spark, tmp_path):
    spark.createDataFrame([(1,), (2,)], "x int").createOrReplaceTempView("t_agg")
    alerts, _ = alerting_check(
        spark,
        {
            "query": "SELECT x FROM t_agg",
            "groups": ["g"],
            "message": "{resultsCount} rows need attention",
        },
    )
    assert [r["message"] for r in alerts.collect()] == ["2 rows need attention"]


CONFIG_YAML = """
urlsets:
  owndomains:
    urls: ["https://www.example.de/"]
    render: false
operations:
  metatags:
    schedule: "0 4 * * *"
    settings:
      owndomains: {title: {has_title: true}}
aggregations:
  gsc:
    runtime_limit: 1200
    database: warehouse  # legacy key: accepted and ignored
"""


def test_config_load_and_hash_stability():
    c1 = load_configuration(CONFIG_YAML)
    c2 = load_configuration(CONFIG_YAML)
    assert c1.hash == c2.hash
    assert c1.operations["metatags"].schedule == "0 4 * * *"
    assert c1.operations["metatags"].runtime_limit == 600  # default
    assert c1.aggregations["gsc"].runtime_limit == 1200
    assert c1.module("operation", "metatags").settings["owndomains"]["title"][
        "has_title"
    ]


def test_config_validation_errors():
    assert validate({"urlsets": {"a": {}}}) == ["urlset 'a': missing 'urls'"]
    assert validate({"urlsets": {"a": {"urls": []}}}) != []
    assert validate({"operations": {"m": {"runtime_limit": "soon"}}}) != []
    with pytest.raises(ValueError):
        load_configuration("urlsets:\n  a: {}\n")


def test_html_xpath_subset_semantics():
    from dawis_spark.functions.html import html_xpath

    h = (
        "<html><head><title>T</title></head><body>"
        "<div class='main'><p>first</p><p>second <b>bold</b></p></div>"
        "<div class='side'><a href='/x'>link</a></div>"
        "<img src='i.png'><p>tail</p></body></html>"
    )
    # element with element children serializes the children (reference
    # xpath.py:289-296); leaf elements return their text
    assert html_xpath(h, "//div[@class='main']/p") == ["first", "<b>bold</b>"]
    assert html_xpath(h, "//div[@class='side']") == ['<a href="/x">link</a>']
    assert html_xpath(h, "//a/@href") == ["/x"]
    assert html_xpath(h, "//title/text()") == ["T"]
    # void elements don't swallow siblings; absolute paths work
    assert html_xpath(h, "/html/body/p") == ["tail"]
    # broken markup tolerated (unclosed p, stray end tag)
    assert html_xpath("<div><p>a<p>b</div></span>", "//p") == ["a", "b"]


def test_html_xpath_predicate_functions():
    """Widened predicate grammar (reference xpath.py:282-302 accepts full
    lxml XPath; these are the selector shapes its configs actually use):
    contains/starts-with/ends-with over @attr, text() and '.', not(...),
    positional [n]/[last()] counted within the parent group, [tag],
    [tag='v'], and chained predicates."""
    from dawis_spark.functions.html import html_xpath

    h = (
        "<html><head><title>T</title></head><body>"
        "<div class='main big'><p>first</p><p id='x2'>second</p><p>third</p></div>"
        "<div class='side'><a href='https://e.com/x'>link</a>"
        "<a href='/rel'>rel</a></div>"
        "<ul><li>one</li><li>two</li><li>three</li></ul>"
        "</body></html>"
    )
    cases = [
        ("//div[contains(@class,'main')]/p/text()", ["first", "second", "third"]),
        ("//div[starts-with(@class,'side')]/a/@href", ["https://e.com/x", "/rel"]),
        ("//a[starts-with(@href,'https://')]/text()", ["link"]),
        ("//a[not(starts-with(@href,'https://'))]/text()", ["rel"]),
        ("//a[ends-with(@href,'/rel')]/text()", ["rel"]),
        ("//p[2]/text()", ["second"]),
        ("//p[last()]/text()", ["third"]),
        ("//li[contains(text(),'tw')]/text()", ["two"]),
        ("//p[@id='x2']/text()", ["second"]),
        ("//p[@id!='x2'][@id]", []),  # chained predicates
        ("//div[contains(.,'second')]/p[1]/text()", ["first"]),
        ("//ul[li]/li[3]/text()", ["three"]),
        ("//li[text()='one']/text()", ["one"]),
        ("//div[contains(@class, 'nope')]", []),
        ('//div[contains(@class,"main")]/p[1]/text()', ["first"]),  # double quotes
    ]
    for q, want in cases:
        assert html_xpath(h, q) == want, q


def test_html_xpath_named_axes_union_position():
    """Named axes, '.'/'..', top-level union, position() predicates, and
    the '//' + explicit-axis composition ('//' means
    descendant-or-self::node()/ before the named step). Includes the
    first/last-child edge cases: preceding-sibling from the first child
    and following-sibling from the last child are both empty."""
    from dawis_spark.functions.html import html_xpath

    h = "<div><a>first</a><b>second</b><c>third</c></div>"
    cases = [
        # sibling axes, including the empty-edge cases
        ("//a/preceding-sibling::*", []),
        ("//c/following-sibling::*", []),
        ("//c/preceding-sibling::*/text()", ["second", "first"]),
        ("//a/following-sibling::*/text()", ["second", "third"]),
        ("//b/preceding-sibling::a/text()", ["first"]),
        ("//b/following-sibling::c/text()", ["third"]),
        # '//' composing with an explicit axis (not overwriting it)
        ("//following-sibling::b/text()", ["second"]),
        ("//following-sibling::a", []),
        ("//self::b/text()", ["second"]),
        ("//parent::div/b/text()", ["second"]),
        # upward axes
        ("//a/parent::div/c/text()", ["third"]),
        ("//a/ancestor::div/c/text()", ["third"]),
        ("//a/ancestor-or-self::a/text()", ["first"]),
        # '.' and '..'
        ("//a/./text()", ["first"]),
        ("//a/../c/text()", ["third"]),
        # explicit downward axes
        ("//div/child::b/text()", ["second"]),
        ("/descendant::c/text()", ["third"]),
        ("//div/descendant-or-self::div/a/text()", ["first"]),
        # union: lxml node-set semantics — document order, deduplicated
        ("//a/text() | //c/text()", ["first", "third"]),
        ("//c | //a", ["first", "third"]),  # doc order, not branch order
        ("//c/text() | //a/text()", ["first", "third"]),
        ("//a | //a", ["first"]),  # set union: same node once
        ("//a | //nope", ["first"]),
        ("//b/text() | //div/a/text() | //c/text()",
         ["first", "second", "third"]),
        # position() comparisons within the parent group
        ("//div/*[position()>1]/text()", ["second", "third"]),
        ("//div/*[position()<=2]/text()", ["first", "second"]),
        ("//div/*[position()!=2]/text()", ["first", "third"]),
        ("//div/*[position()=3]/text()", ["third"]),
        # full document axes: sibling subtrees across ancestor levels
        ("//a/following::*/text()", ["second", "third"]),
        ("//c/preceding::*/text()", ["second", "first"]),
        ("//b/following::c/text()", ["third"]),
        ("//following::b/text()", ["second"]),
        # position arithmetic over last()
        ("//div/*[last()-1]/text()", ["second"]),
        ("//div/*[position()=last()]/text()", ["third"]),
        ("//div/*[position()<last()]/text()", ["first", "second"]),
        ("//div/*[position()>=last()-1]/text()", ["second", "third"]),
        # unknown axis: match nothing, never crash
        ("//namespace::b", []),
    ]
    for q, want in cases:
        assert html_xpath(h, q) == want, q
    # attribute axis as the final step (normalized to the '@' form)
    h2 = '<div><a href="/x" id="k">link</a><b>t</b></div>'
    attr_cases = [
        ("//a/attribute::href", ["/x"]),
        ("//a/attribute::id", ["k"]),
        ("//b/attribute::href", []),
        ("//div/a/attribute::href", ["/x"]),
    ]
    for q, want in attr_cases:
        assert html_xpath(h2, q) == want, q


def test_xpath_extract_predicate_selector_end_to_end(spark):
    """extract_elements with a contains() selector — the module e2e over
    the widened grammar."""
    import datetime as dt

    from dawis_spark.modules.xpath import extract_elements

    body = (
        "<html><body><div class='article lead'><h2>alpha</h2></div>"
        "<div class='footer'><h2>ignored</h2></div></body></html>"
    )
    docs = spark.createDataFrame(
        [("https://e.de/", "c", "n", dt.datetime(2026, 5, 1), body)],
        "url string, cluster string, name string, date timestamp, body string",
    )
    extracted = extract_elements(docs, "//div[contains(@class,'article')]/h2")
    out = get_module("xpath")(extracted, {"operation": "length"})
    results = [(r["element"]["content"], r["element"]["result"]) for r in out.collect()]
    assert results == [("alpha", "5")]


def test_xpath_extract_then_operate_end_to_end(spark):
    """Live HTML -> extract_elements -> length operation (the previously
    stubbed extraction path, now stdlib-backed)."""
    import datetime as dt

    from dawis_spark.modules.xpath import extract_elements

    body = "<html><body><h2>alpha</h2><h2>longer-headline</h2></body></html>"
    docs = spark.createDataFrame(
        [("https://e.de/", "c", "n", dt.datetime(2026, 5, 1), body)],
        "url string, cluster string, name string, date timestamp, body string",
    )
    extracted = extract_elements(docs, "//h2")
    out = get_module("xpath")(extracted, {"operation": "length"})
    results = sorted(
        (r["element"]["content"], r["element"]["result"]) for r in out.collect()
    )
    assert results == [("alpha", "5"), ("longer-headline", "15")]


def test_html_xpath_serialization_whitespace_deviation_pinned():
    """Accepted deviation vs the reference's lxml serialization
    (reference xpath.py:286-300), pinned so any drift is deliberate:
    element results concatenate each child's COMPACT markup
    (ET.tostring), where lxml with pretty_print=True appends a trailing
    newline per child and indents nested element-only content. Text
    extraction and attribute values are identical in both engines; only
    inter-tag whitespace in serialized element content differs."""
    from dawis_spark.functions.html import html_xpath

    h = "<div><ul><li>a</li><li>b</li></ul><p>tail</p></div>"
    # ours: compact, no trailing newline; lxml pretty_print would yield
    # "<ul>\n  <li>a</li>\n  <li>b</li>\n</ul>\n<p>tail</p>\n"
    assert html_xpath(h, "//div") == ["<ul><li>a</li><li>b</li></ul><p>tail</p>"]
    # leaf-element results (text fallback) carry no serialization at all,
    # so they are whitespace-identical to lxml
    assert html_xpath(h, "//li") == ["a", "b"]
    assert html_xpath(h, "//p") == ["tail"]
