"""``geocode_pages`` writes its three ``regexp_extract`` calls as SQL
strings, where the patterns pass through SQL string-literal unescaping;
on adversarial urls every row must equal the ``Column``-call geocoder
(``kernel_oracles``) on ``page_id``, ``lat`` and ``lon``."""

from __future__ import annotations

from hypothesis import example, given, settings
from hypothesis import strategies as st

from osm_spark import fixtures as FX
from osm_spark.operators.geocode import geocode_pages

from kernel_oracles import geocode_pages_regexp

BIG = [str(2**63 - 1), str(2**63), str(-2**63), str(-2**63 - 1),
       "99999999999999999999", "-0", "0", "00", "007"]
PIECES = st.one_of(
    st.sampled_from(["/geo/", "/", "page", "geo", "/geo", "geo/", "+", "-",
                     " ", "\t", "\n", "x", "٣", "１", "߁", "𝟗", "é"] + BIG),
    st.integers(-10**12, 10**12).map(str),
    st.text("0123456789-+/ pag", max_size=4))
URLS = st.one_of(
    st.none(),
    st.lists(PIECES, max_size=12).map("".join),
    st.builds(lambda a, b, c, tail: f"https://s.example/en/geo/{a}/{b}/{tail}page{c}",
              PIECES, PIECES, PIECES, st.sampled_from(["", "/", "x/", "/geo/1/2/"])))

EDGE = [
    None, "", "123", "-5", "/geo/1/2/", "page", "page12", "pagepage12", "page1page12", "page12\n",
    "page12 ", "page 12", "page+12", "page-12", "page012", "page0",
    "page٣", "page１２", f"page{2**63}", f"page{2**63 - 1}",
    "https://s.example/en/geo/1/2/page3",
    "https://s.example/en/geo/-1/-2/page3",
    "https://s.example/en/geo/+1/2/page3",
    "https://s.example/en/geo/ 1/2/page3",
    "https://s.example/en/geo/01/2/page3",
    "https://s.example/en/geo/-0/5/page3",
    "https://s.example/en/geo/1/2page3",
    "https://s.example/en/geo/1/2",
    "https://s.example/en/geo/1/page3",
    "https://s.example/en/geo//1/2/page3",
    "https://s.example/en/geo/x/1/geo/2/3/page4",
    "https://s.example/en/geo/geo/1/2/page4",
    "https://s.example/en/geo/1/2/geo/3/4/page5",
    "https://s.example/en/geo/٣/2/page3",
    f"https://s.example/en/geo/{2**63}/2/page3",
    f"https://s.example/en/geo/1/{-2**63 - 1}/page3",
    f"https://s.example/en/geo/{-2**63}/{2**63 - 1}/page3",
    "https://s.example/en/geo/1/2/\npage3",
    "https://s.example/en/geo/1\n/2/page3",
]


def _rows(df):
    return sorted(tuple(r) for r in df.select("i", "page_id", "lat", "lon").collect())


def _check(spark, urls):
    df = spark.createDataFrame(list(enumerate(urls)), "i long, url string")
    assert _rows(geocode_pages(df)) == _rows(geocode_pages_regexp(df))


def test_geocode_edge_urls_match_regexp(spark):
    _check(spark, EDGE)


def test_geocode_fixture_urls_match_regexp(spark):
    urls = FX.generate_pages_range(0, 2_000)["url"].tolist()
    df = spark.createDataFrame(list(enumerate(urls)), "i long, url string")
    rows = _rows(geocode_pages(df))
    assert rows == _rows(geocode_pages_regexp(df))
    assert all(None not in r for r in rows)


@settings(max_examples=25, deadline=None)
@given(st.lists(URLS, min_size=1, max_size=60))
@example(EDGE)
def test_geocode_matches_regexp(spark, urls):
    _check(spark, urls)
