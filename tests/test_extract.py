from spark_frontier.extract.category import (
    detect_from_content_py,
    detect_from_url_py,
    detect_py,
)
from spark_frontier.extract.html import (
    extract_author,
    extract_content,
    extract_date_iso,
    extract_title,
    has_headline,
    validate_article_html,
)

HTML_FULL = """
<html><head>
<title>Page Title | Site</title>
<meta property="og:title" content="OG Title">
<meta name="author" content="Jane Writer">
<meta property="article:published_time" content="2026-08-14T09:30:00Z">
</head><body>
<nav>Home News</nav>
<article>
<h1>The Real Headline</h1>
<div class="byline">By Sam Reporter</div>
<time datetime="2026-08-14T09:30:00Z">Aug 14</time>
<div itemprop="articleBody">
<p>This is the first paragraph of the article body with plenty of text in it.</p>
<script>var ads = true;</script>
<div class="advertisement"><p>Buy things now, a long advertising paragraph.</p></div>
<p>Second paragraph also has enough characters to be kept by the filter.</p>
<p>tiny</p>
<blockquote>A quotation that is long enough to be included too.</blockquote>
</div>
</article>
<footer>(c) 2026</footer>
</body></html>
"""

HTML_BARE = "<html><head><title>Only Title</title></head><body><p>short</p></body></html>"


def test_title_cascade_prefers_h1():
    assert extract_title(HTML_FULL) == "The Real Headline"
    assert extract_title(HTML_BARE) == "Only Title"
    assert extract_title("<html></html>") == "Untitled"


def test_title_meta_content():
    html = '<html><meta property="og:title" content="Meta Win"><body></body></html>'
    assert extract_title(html) == "Meta Win"


def test_author_cascade():
    assert extract_author(HTML_FULL) == "By Sam Reporter"  # .byline before meta
    html = '<html><meta name="author" content="Meta Author"><body></body></html>'
    assert extract_author(html) == "Meta Author"
    assert extract_author("<p>no author</p>") is None


def test_date_prefers_datetime_attr():
    assert extract_date_iso(HTML_FULL) == "2026-08-14T09:30:00"


def test_content_removes_noise_and_keeps_paragraphs():
    content = extract_content(HTML_FULL)
    assert "first paragraph" in content
    assert "Second paragraph" in content
    assert "quotation" in content
    assert "ads" not in content and "Buy things" not in content
    assert "tiny" not in content  # ≤20 chars dropped (extractor.py:188)


def test_validator_branches():
    ok, reason = validate_article_html(True, HTML_FULL)
    assert ok and reason is None
    ok, reason = validate_article_html(False, HTML_FULL)
    assert not ok and reason == "URL matches rejection pattern"
    ok, reason = validate_article_html(True, "<html><body><p>x</p></body></html>")
    assert not ok and reason == "No headline found"
    ok, reason = validate_article_html(True, HTML_BARE)
    assert not ok and reason == "Content too short"
    assert has_headline(HTML_BARE)


def test_category_url_segment():
    assert detect_py("https://s.com/cricket/match-report", "", "") == "cricket"
    assert detect_py("https://s.com/nba/game", "", "") == "basketball"  # keyword→cat


def test_category_precedence_forced_focus():
    assert detect_py("https://s.com/cricket/x", "", "",
                     site_type="Specific", sport_focus="mlb") == "mlb"


def test_category_url_pattern():
    assert detect_from_url_py("https://s.com/news/story-soccer-final") == "soccer"


def test_category_content_scoring_min_confidence():
    text = "wicket bowler century innings"  # 3 cricket keywords
    assert detect_from_content_py("cricket news", text) == "cricket"
    assert detect_from_content_py("plain", "nothing sporty here") is None
    # below MIN_CONFIDENCE_SCORE=3 → None
    assert detect_from_content_py("", "wicket once only") is None


def test_category_default_sports():
    assert detect_py("https://s.com/news/item", "hello", "world") == "sports"


def test_with_category_jvm_matches_python(spark):
    """The all-JVM with_category chain == detect_py on a fuzz grid covering
    every precedence branch (forced focus, segment, url-pattern, content
    argmax incl. ties and the MIN_CONFIDENCE gate, default)."""
    from spark_frontier.extract.category import detect_py, with_category

    rows = []
    urls = [
        "https://s.com/cricket/match",            # segment: custom cat
        "https://s.com/nba/game",                 # segment: keyword→basketball
        "https://s.com/news/team-quarterback-x",  # pattern: keyword in segment
        "https://s.com/x/super-bowl-recap",       # pattern: space→[-_/]
        "https://s.com/a/-soccer-weekly",         # pattern: -{cat}
        "https://s.com/plain/item-1",             # falls through to content
        "https://s.com/plain/item-2",
        "https://s.com/",                         # empty path
    ]
    titles = ["", "Messi and Ronaldo goal striker report", "nfl nfl nfl",
              "wicket bowler century ipl", "nfl soccer", None]
    contents = ["", "penalty offside var corner kick", "lbw drs stumped",
                "home run pitcher strikeout inning bullpen", None]
    stypes = [None, "specific", "general"]
    focuses = [None, "tennis", ""]
    i = 0
    for u in urls:
        for t in titles:
            for c in contents:
                st = stypes[i % 3]
                fo = focuses[(i // 3) % 3]
                rows.append((u, t, c, st, fo))
                i += 1
    df = spark.createDataFrame(
        rows, "url string, title string, caption string, site_type string, "
              "sport_focus string")
    got = {
        (r["url"], r["title"], r["caption"], r["site_type"], r["sport_focus"]):
            r["sport_category"]
        for r in with_category(df).collect()
    }
    for u, t, c, st, fo in rows:
        expect = detect_py(u, t, c, st, fo)
        assert got[(u, t, c, st, fo)] == expect, (u, t, c, st, fo, expect,
                                                  got[(u, t, c, st, fo)])


def test_with_category_step34_kernel_identical(spark):
    """step34_kernel=True (RE2 pattern pass + per-distinct-text python
    scoring) returns exactly the per-row JVM chain's categories — and
    therefore detect_py's — on the full fuzz grid."""
    from spark_frontier.extract.category import detect_py, with_category

    rows = []
    urls = [
        "https://s.com/cricket/match",
        "https://s.com/nba/game",
        "https://s.com/news/team-quarterback-x",
        "https://s.com/x/super-bowl-recap",
        "https://s.com/a/-soccer-weekly",
        "https://s.com/x/al-nassr-report",          # space->[-_/] pattern
        "https://s.com/plain/item-1",
        "https://s.com/plain/item-2",
        "https://s.com/",
    ]
    titles = ["", "Messi and Ronaldo goal striker report", "nfl nfl nfl",
              "wicket bowler century ipl", "nfl soccer", None]
    contents = ["", "penalty offside var corner kick", "lbw drs stumped",
                "home run pitcher strikeout inning bullpen", None]
    stypes = [None, "specific", "general"]
    focuses = [None, "tennis", ""]
    i = 0
    for u in urls:
        for t in titles:
            for c in contents:
                rows.append((u, t, c, stypes[i % 3], focuses[(i // 3) % 3]))
                i += 1
    df = spark.createDataFrame(
        rows, "url string, title string, caption string, site_type string, "
              "sport_focus string")
    key = lambda r: (r["url"], r["title"], r["caption"], r["site_type"],  # noqa: E731
                     r["sport_focus"])
    inline = {key(r): r["sport_category"] for r in with_category(df).collect()}
    kernel = {key(r): r["sport_category"]
              for r in with_category(df, step34_kernel=True).collect()}
    assert inline == kernel
    for u, t, c, st, fo in rows:
        assert kernel[(u, t, c, st, fo)] == detect_py(u, t, c, st, fo)
    assert with_category(df).columns == with_category(
        df, step34_kernel=True).columns
