"""P12 — C# NUnit / xUnit / MSTest inventory extraction (pure Python).

Reimplements the reference's three dotnet strategies
(pkg/parser/strategies/{nunit,xunit,mstest}/definition.go,
shared/dotnetast/ast.go) over the shared C-family tokenizer:

  * attribute lists ``[Attr(args), Attr2]`` before classes/methods; names
    use the last segment of qualified forms, with the optional
    ``Attribute`` suffix accepted everywhere the reference accepts it
  * NUnit: [Test]/[Theory] (Description= renames), one test PER
    [TestCase] (TestName= renames), [TestCaseSource] single,
    [Ignore] -> skipped "[Ignore]" at class or method level
    (nunit/definition.go:211-283)
  * xUnit: [Fact]/[Theory] incl. custom *Fact/*Theory suffix attributes,
    DisplayName= renames, Skip= -> skipped "Skip", one test per
    [InlineData] (xunit/definition.go:231-345)
  * MSTest: [TestMethod]/[DataTestMethod] single test, DisplayName=
    renames, [Ignore] -> skipped "[Ignore]" (mstest/definition.go:221-271)
  * nested classes recurse (depth-capped 20); classes with no tests and
    no nested suites are dropped
  * dialect auto-detection from using-directives, falling back to
    attribute presence
"""

from __future__ import annotations

from core_spark.functions.jstest import (
    Tok,
    _match_bracket,
    _split_args,
    tok_span_location,
    tokenize,
)

STATUS_ACTIVE = "active"
STATUS_SKIPPED = "skipped"
MAX_NESTED_DEPTH = 20


def _strip_suffix(name: str) -> str:
    return name[:-9] if name.endswith("Attribute") else name


def _parse_attr_list(toks: list[Tok], i: int, hi: int):
    """'[' at i -> (attrs, next_index); attrs = [(name, named_args dict)]."""
    close = _match_bracket(toks, i)
    attrs = []
    for lo, ahi in _split_args(toks, i + 1, min(close, hi)):
        j = lo
        if j >= ahi or toks[j].kind != "id":
            continue
        parts = [toks[j].text]
        j += 1
        while (
            j + 1 < ahi
            and toks[j].kind == "punct" and toks[j].text == "."
            and toks[j + 1].kind == "id"
        ):
            parts.append(toks[j + 1].text)
            j += 2
        name = parts[-1]
        named: dict[str, str] = {}
        if j < ahi and toks[j].kind == "punct" and toks[j].text == "(":
            pclose = _match_bracket(toks, j)
            for alo, aend in _split_args(toks, j + 1, min(pclose, ahi)):
                if (
                    aend - alo >= 3
                    and toks[alo].kind == "id"
                    and toks[alo + 1].kind == "punct"
                    and toks[alo + 1].text == "="
                    and toks[alo + 2].kind == "str"
                ):
                    text = toks[alo + 2].text
                    named[toks[alo].text] = text[1:-1] if len(text) >= 2 else text
        attrs.append((name, named))
    return attrs, min(close, hi) + 1


def _is_fact(name: str) -> bool:
    n = _strip_suffix(name)
    return n == "Fact" or n.endswith("Fact")


def _is_theory(name: str) -> bool:
    n = _strip_suffix(name)
    return n == "Theory" or n.endswith("Theory")


def _method_tests(dialect, attrs, method_name, loc, class_status, class_modifier):
    if not attrs:
        return []
    status, modifier = class_status, class_modifier
    if any(_strip_suffix(a) == "Ignore" for a, _ in attrs) and dialect in ("nunit", "mstest"):
        status, modifier = STATUS_SKIPPED, "[Ignore]"

    tests = []
    if dialect == "nunit":
        has_simple = False
        has_source = False
        description = ""
        for name, named in attrs:
            base = _strip_suffix(name)
            if base in ("Test", "Theory"):
                has_simple = True
                description = named.get("Description", description)
            elif base == "TestCase":
                tests.append((named.get("TestName") or method_name, status, modifier))
            elif base == "TestCaseSource":
                has_source = True
        if tests:
            return [dict(name=n, status=s, modifier=m, **loc) for n, s, m in tests]
        if has_simple or has_source:
            return [dict(name=description or method_name, status=status,
                         modifier=modifier, **loc)]
        return []
    if dialect == "xunit":
        has_fact = has_theory = theory_skipped = False
        display = ""
        inline = []
        for name, named in attrs:
            if _is_fact(name):
                has_fact = True
                display = named.get("DisplayName", display)
                if named.get("Skip"):
                    status, modifier = STATUS_SKIPPED, "Skip"
            elif _is_theory(name):
                has_theory = True
                display = named.get("DisplayName", display)
                if named.get("Skip"):
                    theory_skipped = True
            elif _strip_suffix(name) == "InlineData":
                s, m = (STATUS_SKIPPED, "Skip") if theory_skipped else (status, modifier)
                inline.append((method_name, s, m))
        if inline:
            return [dict(name=n, status=s, modifier=m, **loc) for n, s, m in inline]
        if has_fact or has_theory:
            s, m = (STATUS_SKIPPED, "Skip") if (has_theory and theory_skipped) else (status, modifier)
            return [dict(name=display or method_name, status=s, modifier=m, **loc)]
        return []
    # mstest
    is_test = False
    display = ""
    for name, named in attrs:
        if _strip_suffix(name) in ("TestMethod", "DataTestMethod"):
            is_test = True
            display = named.get("DisplayName", display)
    if not is_test:
        return []
    return [dict(name=display or method_name, status=status, modifier=modifier, **loc)]


class _CsExtractor:
    def __init__(self, toks, dialect):
        self.toks = toks
        self.dialect = dialect

    def parse_class(self, name, loc, lo, hi, path, status, modifier, depth):
        toks = self.toks
        child_path = path + (name,)
        tests = []
        nested = []
        pending = []
        pend_start = -1
        i = lo
        while i < hi:
            t = toks[i]
            if t.kind == "punct" and t.text == "[":
                if not pending:
                    pend_start = i
                attrs, i = _parse_attr_list(toks, i, hi)
                pending.extend(attrs)
                continue
            if t.kind == "id" and t.text == "class":
                anns = pending
                pending = []
                cstart = pend_start if anns else i
                pend_start = -1
                j = i + 1
                cname = toks[j].text if j < hi and toks[j].kind == "id" else ""
                while j < hi and not (toks[j].kind == "punct" and toks[j].text == "{"):
                    j += 1
                if j >= hi:
                    break
                close = _match_bracket(toks, j)
                if cname and depth < MAX_NESTED_DEPTH:
                    c_status, c_mod = STATUS_ACTIVE, ""
                    if any(_strip_suffix(a) == "Ignore" for a, _ in anns):
                        c_status, c_mod = STATUS_SKIPPED, "[Ignore]"
                    nested.extend(
                        self.parse_class(
                            cname,
                            tok_span_location(toks, cstart, min(close, hi - 1)),
                            j + 1, min(close, hi),
                            child_path, c_status, c_mod, depth + 1)
                    )
                i = min(close, hi) + 1
                continue
            if (
                t.kind == "id"
                and i + 1 < hi
                and toks[i + 1].kind == "punct"
                and toks[i + 1].text == "("
            ):
                anns = pending
                pending = []
                mname = t.text
                # method_declaration span: attributes + modifiers -> body end
                k = i - 1
                while k >= 0 and toks[k].kind == "id":
                    k -= 1
                mstart = pend_start if anns else (k + 1 if k + 1 < i else i)
                pend_start = -1
                close = _match_bracket(toks, i + 1)
                j = min(close, hi) + 1
                while j < hi:
                    tj = toks[j]
                    if tj.kind == "punct" and tj.text == "{":
                        j = min(_match_bracket(toks, j), hi) + 1
                        break
                    if tj.kind == "punct" and tj.text == ";":
                        j += 1
                        break
                    if tj.kind == "punct" and tj.text == "=>":
                        while j < hi and not (
                            toks[j].kind == "punct" and toks[j].text == ";"
                        ):
                            j += 1
                        j += 1
                        break
                    if tj.kind == "punct" and tj.text == "=":
                        break
                    j += 1
                tests.extend(
                    _method_tests(
                        self.dialect, anns, mname,
                        tok_span_location(toks, mstart, max(j - 1, i)),
                        status, modifier)
                )
                i = j
                continue
            if t.kind == "punct" and t.text == ";":
                pending = []
                pend_start = -1
            i += 1
        if not tests and not nested:
            return []
        rows = [
            {
                "kind": "suite",
                "suite_path": list(path),
                "name": name,
                "status": status,
                "modifier": modifier,
                **loc,
            }
        ]
        for tr in tests:
            tr["kind"] = "test"
            tr["suite_path"] = list(child_path)
            rows.append(tr)
        rows.extend(nested)
        return rows


def detect_dialect(source: str) -> str:
    if "using Xunit" in source or "[Fact" in source or "[Theory" in source:
        return "xunit"
    if "Microsoft.VisualStudio.TestTools" in source or "[TestMethod" in source:
        return "mstest"
    return "nunit"


def parse_csharp_tests(source: str) -> list[dict]:
    """Flattened inventory rows (same model as jstest.parse_js_tests)."""
    toks = tokenize(source)
    n = len(toks)
    ex = _CsExtractor(toks, detect_dialect(source))
    rows: list[dict] = []
    pending = []
    pend_start = -1
    i = 0
    while i < n:
        t = toks[i]
        if t.kind == "punct" and t.text == "[":
            if not pending:
                pend_start = i
            attrs, i = _parse_attr_list(toks, i, n)
            pending.extend(attrs)
            continue
        if t.kind == "id" and t.text == "class":
            anns = pending
            pending = []
            cstart = pend_start if anns else i
            pend_start = -1
            j = i + 1
            cname = toks[j].text if j < n and toks[j].kind == "id" else ""
            while j < n and not (toks[j].kind == "punct" and toks[j].text == "{"):
                j += 1
            if j >= n:
                break
            close = _match_bracket(toks, j)
            status, modifier = STATUS_ACTIVE, ""
            if any(_strip_suffix(a) == "Ignore" for a, _ in anns):
                status, modifier = STATUS_SKIPPED, "[Ignore]"
            if cname:
                rows.extend(
                    ex.parse_class(
                        cname, tok_span_location(toks, cstart, min(close, n - 1)),
                        j + 1, close, (), status, modifier, 0)
                )
            i = close + 1
            continue
        if t.kind == "punct" and t.text == ";":
            pending = []
            pend_start = -1
        i += 1
    return rows
