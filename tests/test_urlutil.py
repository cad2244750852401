"""Go net/url parity edge cases (utils.go:11-33, extractor.go link handling)."""

import pytest

from webcrawler_spark.extract import urlutil


def test_build_full_url_prepends_scheme():
    assert urlutil.build_full_url("example.com") == "https://example.com"
    assert urlutil.build_full_url("example.com/p?q=1") == "https://example.com/p?q=1"


def test_build_full_url_keeps_existing_scheme():
    assert urlutil.build_full_url("http://e.com") == "http://e.com"
    assert urlutil.build_full_url("https://e.com") == "https://e.com"


def test_build_full_url_scheme_check_case_sensitive():
    # Go strings.HasPrefix is case-sensitive: HTTP:// gets https:// prepended
    assert urlutil.build_full_url("HTTP://e.com").startswith("https://HTTP://")


def test_build_full_url_rejects_control_chars():
    with pytest.raises(urlutil.URLError):
        urlutil.build_full_url("exa mple\x01.com")


def test_get_domain():
    assert urlutil.get_domain("https://www.foo.com/bar") == "foo.com"
    assert urlutil.get_domain("foo.com/bar") == "foo.com"
    assert urlutil.get_domain("http://foo.com:8080/x") == "foo.com"
    # only a LEADING www. is stripped, once
    assert urlutil.get_domain("https://www.www.foo.com") == "www.foo.com"
    # case preserved (Go Hostname does not lowercase)
    assert urlutil.get_domain("https://WWW.Foo.COM") == "WWW.Foo.COM"[0:]


def test_host_vs_hostname():
    u = "https://user:pw@Host.Example.com:8443/p"
    assert urlutil.host(u) == "Host.Example.com:8443"
    assert urlutil.hostname(u) == "Host.Example.com"
    v6 = "http://[2001:db8::1]:8080/x"
    assert urlutil.host(v6) == "[2001:db8::1]:8080"
    assert urlutil.hostname(v6) == "2001:db8::1"


def test_resolve_rfc3986():
    base = "https://e.com/a/b/c?q=1"
    assert urlutil.resolve(base, "/root") == "https://e.com/root"
    assert urlutil.resolve(base, "sib") == "https://e.com/a/b/sib"
    assert urlutil.resolve(base, "../up") == "https://e.com/a/up"
    assert urlutil.resolve(base, "//other.com/x") == "https://other.com/x"
    assert urlutil.resolve(base, "http://abs.com/") == "http://abs.com/"
    assert urlutil.resolve(base, "#frag") == "https://e.com/a/b/c?q=1#frag"


def test_parse_ok_percent_escapes():
    assert urlutil.parse_ok("https://e.com/a%20b")
    assert not urlutil.parse_ok("https://e.com/a%2")  # truncated escape
    assert not urlutil.parse_ok("https://e.com/a%zz")  # non-hex
