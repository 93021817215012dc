"""P20 goldens — ported from the reference's config-parser fixtures
(jest/definition_test.go:255-540, vitest/definition_test.go:200-360,
playwright/definition_test.go:100-200) plus the end-to-end D5 path:
config bytes -> scopes table -> resolve_scopes tie-break."""

from __future__ import annotations

import pytest

from core_spark.functions.configparse import (
    contains,
    glob_match,
    parse_config,
    parse_jest_config,
    parse_playwright_config,
    parse_vitest_config,
    scope_depth,
    scopes_to_rows,
)


# -- jest --------------------------------------------------------------------

JEST_ROOT_CASES = [
    ("module.exports = {\n  rootDir: \"..\",\n  testEnvironment: 'node'\n};",
     "/project/apps/web/jest.config.js", "/project/apps"),
    ("module.exports = {\n  rootDir: \"src\",\n  testEnvironment: 'node'\n};",
     "/project/jest.config.js", "/project/src"),
    ("module.exports = {\n  testEnvironment: 'node'\n};",
     "/project/jest.config.js", "/project"),
]


@pytest.mark.parametrize("content,path,base_dir", JEST_ROOT_CASES)
def test_jest_root_dir(content, path, base_dir):
    scope = parse_jest_config(path, content)
    assert scope["framework"] == "jest"
    assert scope["base_dir"] == base_dir


JEST_ROOTS_CASES = [
    # (content, config_dir, rootDir-in-content, expected roots)
    ("rootDir: 'test', roots: [\n  '<rootDir>',\n]", "", ["test"]),
    ("rootDir: 'test', roots: [\n  '<rootDir>',\n  '<rootDir>/../packages/next/src/',\n"
     "  '<rootDir>/../packages/font/src/',\n]", "",
     ["test", "packages/next/src", "packages/font/src"]),
    ("testEnvironment: 'node'", "", []),
    ("roots: [\n  'src',\n  'lib',\n]", "", ["src", "lib"]),
    ("roots: ['/absolute/path/to/tests']", "", ["/absolute/path/to/tests"]),
    ("roots: [\n  'src',\n  'lib',\n]", "packages/myapp",
     ["packages/myapp/src", "packages/myapp/lib"]),
    ("roots: ['/absolute/path']", "packages/myapp", ["/absolute/path"]),
    ("rootDir: 'src', roots: [\n  '/absolute/path',\n  'relative/path',\n"
     "  '<rootDir>/subdir',\n]", "packages/app",
     ["/absolute/path", "packages/app/relative/path", "packages/app/src/subdir"]),
]


@pytest.mark.parametrize("content,config_dir,expected", JEST_ROOTS_CASES)
def test_jest_roots(content, config_dir, expected):
    cfg_path = (config_dir + "/" if config_dir else "") + "jest.config.js"
    scope = parse_jest_config(cfg_path, content)
    assert scope["roots"] == expected


def test_jest_globals_and_patterns():
    scope = parse_jest_config("/p/jest.config.js", "injectGlobals: false")
    assert scope["globals_mode"] is False
    scope = parse_jest_config("/p/jest.config.js", "injectGlobals: true")
    assert scope["globals_mode"] is True
    scope = parse_jest_config("/p/jest.config.js", "testEnvironment: 'node'")
    assert scope["globals_mode"] is True  # Jest defaults to true

    scope = parse_jest_config(
        "/p/jest.config.js",
        "testMatch: ['**/*.test.ts', '**/*.spec.ts'],\n"
        "testPathIgnorePatterns: ['/node_modules/'],\n"
        "modulePathIgnorePatterns: ['/dist/'],",
    )
    assert scope["include"] == ["**/*.test.ts", "**/*.spec.ts"]
    assert scope["exclude"] == ["/node_modules/", "/dist/"]


# -- vitest ------------------------------------------------------------------

VITEST_ROOT_CASES = [
    ("root: '..'", ".."),
    ('root: ".."', ".."),
    ('root: "src"', "src"),
    ("test: { globals: true }", ""),
    ('root  :  "src"', "src"),
]


@pytest.mark.parametrize("content,root", VITEST_ROOT_CASES)
def test_vitest_root(content, root):
    scope = parse_vitest_config("/project/apps/web/vitest.config.ts", content)
    want = {"..": "/project/apps", "src": "/project/apps/web/src",
            "": "/project/apps/web"}[root]
    assert scope["base_dir"] == want


VITEST_GLOBALS_CASES = [
    ("globals: true", True),
    ("globals: false", False),
    ('test: { include: ["**/*.test.ts"] }', False),
    ("globals  :  true", True),
    ("// globals: true\ntest: { environment: 'node' }", False),  # comment-stripped
    ("/* globals: true */\nexport default {}", False),
]


@pytest.mark.parametrize("content,want", VITEST_GLOBALS_CASES)
def test_vitest_globals(content, want):
    assert parse_vitest_config("/p/vitest.config.ts", content)["globals_mode"] is want


def test_vitest_include_exclude_skips_coverage_block():
    content = (
        "test: {\n  coverage: {\n    include: ['src/**'],\n"
        "    exclude: ['src/gen/**']\n  },\n"
        "  include: ['tests/**/*.test.ts'],\n  exclude: ['tests/fixtures/**']\n}"
    )
    scope = parse_vitest_config("/p/vitest.config.ts", content)
    assert scope["include"] == ["tests/**/*.test.ts"]
    assert scope["exclude"] == ["tests/fixtures/**"]


# -- playwright --------------------------------------------------------------

def test_playwright_testdir_priority():
    scope = parse_playwright_config(
        "/project/playwright.config.ts",
        "const testDirRoot = 'e2e-playwright';\nexport default { testDir: './other' };",
    )
    assert scope["base_dir"] == "/project/e2e-playwright"

    scope = parse_playwright_config(
        "/project/playwright.config.ts", "export default { testDir: './tests' };"
    )
    assert scope["base_dir"] == "/project/tests"

    scope = parse_playwright_config(
        "/project/playwright.config.ts",
        "const testDir = path.join(__dirname, 'e2e');",
    )
    assert scope["base_dir"] == "/project/e2e"
    assert scope["globals_mode"] is False


def test_playwright_projects_string_literals():
    scope = parse_playwright_config(
        "/project/playwright.config.ts",
        "export default defineConfig({\n  projects: [\n"
        "    {\n      name: 'admin',\n      testDir: './e2e/admin',\n    },\n"
        "    {\n      name: 'viewer',\n      testDir: './e2e/viewer',\n    },\n"
        "  ],\n});",
    )
    assert [p["name"] for p in scope["projects"]] == ["admin", "viewer"]
    assert [p["base_dir"] for p in scope["projects"]] == [
        "/project/e2e/admin", "/project/e2e/viewer",
    ]


def test_playwright_projects_path_join():
    scope = parse_playwright_config(
        "/project/playwright.config.ts",
        "const testDirRoot = 'e2e/plugin-e2e/';\n"
        "export default defineConfig({\n  projects: [\n"
        "    {\n      name: 'api-admin',\n"
        "      testDir: path.join(testDirRoot, '/api-tests/as-admin-user'),\n    },\n"
        "    {\n      name: 'api-viewer',\n"
        "      testDir: path.join(testDirRoot, '/api-tests/as-viewer-user'),\n    },\n"
        "  ],\n});",
    )
    assert [p["base_dir"] for p in scope["projects"]] == [
        "/project/api-tests/as-admin-user", "/project/api-tests/as-viewer-user",
    ]


def test_playwright_projects_without_testdir_ignored():
    scope = parse_playwright_config(
        "/project/playwright.config.ts",
        "export default defineConfig({\n  projects: [\n"
        "    {\n      name: 'chromium',\n      use: { browserName: 'chromium' },\n    },\n"
        "    {\n      name: 'with-testdir',\n      testDir: './tests',\n    },\n  ],\n});",
    )
    assert [p["name"] for p in scope["projects"]] == ["with-testdir"]
    assert [p["base_dir"] for p in scope["projects"]] == ["/project/tests"]


def test_playwright_no_projects():
    scope = parse_playwright_config(
        "/project/playwright.config.ts",
        "export default defineConfig({\n  testDir: './tests',\n});",
    )
    assert scope["projects"] == []


# -- dispatch + containment --------------------------------------------------

def test_dispatch():
    assert parse_config("a/jest.config.js", "rootDir: 'x'")["framework"] == "jest"
    assert parse_config("a/vitest.config.ts", "")["framework"] == "vitest"
    assert parse_config("a/vite.config.ts", "")["framework"] == "vitest"
    assert parse_config("a/playwright.config.ts", "")["framework"] == "playwright"
    assert parse_config("a/random.txt", "") is None


def test_glob_match_doublestar():
    assert glob_match("**/*.test.ts", "src/deep/a.test.ts")
    assert glob_match("**/*.test.ts", "a.test.ts")
    assert not glob_match("*.test.ts", "src/a.test.ts")
    assert glob_match("tests/**", "tests/x/y.ts")
    assert glob_match("*.{js,ts}", "a.ts")
    assert not glob_match("*.{js,ts}", "a.py")


def test_contains_include_exclude():
    scope = parse_jest_config(
        "proj/jest.config.js",
        "testMatch: ['**/*.test.ts'], testPathIgnorePatterns: ['fixtures/**']",
    )
    assert contains(scope, "proj/src/a.test.ts")
    assert not contains(scope, "proj/src/a.ts")
    assert not contains(scope, "proj/fixtures/b.test.ts")
    assert not contains(scope, "elsewhere/a.test.ts")


def test_contains_multi_root():
    scope = parse_jest_config(
        "jest.config.js", "roots: ['src', 'lib']",
    )
    assert contains(scope, "src/a.ts")
    assert contains(scope, "lib/b.ts")
    assert not contains(scope, "docs/c.ts")


def test_scope_depth():
    assert scope_depth({"base_dir": "a/b/c"}) == 2
    assert scope_depth({"base_dir": ""}) == 0
    assert scope_depth({"base_dir": "/"}) == 0


# -- end-to-end D5: config bytes -> scopes table -> tie-broken winner --------

def test_config_bytes_to_resolved_scope(spark):
    """The full D5 path the verdict asked for: parse real config bytes into
    the scopes table, broadcast-join against files, and check the
    deepest-base-dir tie-break picks the nested config."""
    from core_spark.operators.detect import resolve_scopes

    configs = [
        ("proj/jest.config.js", "module.exports = { testEnvironment: 'node' };"),
        ("proj/apps/web/jest.config.js", "module.exports = { rootDir: '.' };"),
        ("proj/e2e/playwright.config.ts", "export default { testDir: './specs' };"),
    ]
    scopes = [parse_config(p, c) for p, c in configs]
    rows = scopes_to_rows([s for s in scopes if s])
    scopes_df = spark.createDataFrame(rows, "cfg_path string, base_dir string, framework string")

    files = spark.createDataFrame(
        [("proj/src/a.test.ts",), ("proj/apps/web/src/b.test.ts",),
         ("proj/e2e/specs/c.spec.ts",)],
        "path string",
    )
    got = {
        r["path"]: (r["cfg_path"], r["framework"])
        for r in resolve_scopes(files, scopes_df).collect()
    }
    assert got["proj/src/a.test.ts"] == ("proj/jest.config.js", "jest")
    # nested config wins by depth
    assert got["proj/apps/web/src/b.test.ts"] == ("proj/apps/web/jest.config.js", "jest")
    assert got["proj/e2e/specs/c.spec.ts"] == ("proj/e2e/playwright.config.ts", "playwright")


# -- mocha / cypress (mocha/definition.go:87-114, cypress/definition.go:98-145)

def test_mocha_config():
    from core_spark.functions.configparse import parse_mocha_config

    scope = parse_mocha_config("/p/.mocharc.json", '{"spec": "test/**/*.spec.js"}')
    assert scope["framework"] == "mocha"
    assert scope["globals_mode"] is True
    assert scope["base_dir"] == "/p"
    assert scope["test_patterns"] == ["test/**/*.spec.js"]

    scope = parse_mocha_config(
        "/p/.mocharc.js", "module.exports = { spec: ['a/**/*.js', 'b/**/*.js'] };"
    )
    assert scope["test_patterns"] == ["a/**/*.js", "b/**/*.js"]


def test_cypress_config():
    from core_spark.functions.configparse import parse_cypress_config

    scope = parse_cypress_config(
        "/p/cypress.config.ts",
        "export default defineConfig({\n"
        "  e2e: {\n    specPattern: 'cypress/e2e/**/*.cy.ts',\n"
        "    excludeSpecPattern: '*.hot-update.js',\n  },\n"
        "  component: {\n    specPattern: ['src/**/*.cy.tsx'],\n  },\n});",
    )
    assert scope["framework"] == "cypress"
    assert scope["globals_mode"] is True
    assert scope["test_patterns"] == ["cypress/e2e/**/*.cy.ts", "src/**/*.cy.tsx"]
    assert scope["exclude_patterns"] == ["*.hot-update.js"]


def test_dispatch_mocha_cypress():
    assert parse_config("a/.mocharc.json", '{"spec": "t/*.js"}')["framework"] == "mocha"
    assert parse_config("a/cypress.config.ts", "")["framework"] == "cypress"


# -- pytest (strategies/pytest/definition.go:44-76) --------------------------

def test_pytest_ini_scope():
    from core_spark.functions.configparse import parse_pytest_config

    scope = parse_pytest_config(
        "/p/pytest.ini", "[pytest]\ntestpaths = tests integration\n"
    )
    assert scope["framework"] == "pytest"
    assert scope["base_dir"] == "/p"  # whole config dir (scope.go:214-229)
    assert scope["test_patterns"] == ["tests", "integration"]


def test_pytest_pyproject_requires_tool_section():
    from core_spark.functions.configparse import parse_pytest_config

    # no [tool.pytest*] section -> not a pytest config (definition.go:52-76)
    assert parse_pytest_config(
        "/p/pyproject.toml", "[tool.poetry]\nname = 'x'\n"
    ) is None
    scope = parse_pytest_config(
        "/p/pyproject.toml",
        "[tool.pytest.ini_options]\ntestpaths = [\"tests\", \"e2e\"]\n"
        "python_files = [\"check_*.py\"]\n",
    )
    assert scope is not None
    assert scope["base_dir"] == "/p"
    assert scope["test_patterns"] == ["tests", "e2e"]
    assert scope["python_files"] == ["check_*.py"]


def test_pytest_conftest_scope():
    from core_spark.functions.configparse import parse_pytest_config

    scope = parse_pytest_config("/p/sub/conftest.py", "import pytest\n")
    assert scope["framework"] == "pytest"
    assert scope["base_dir"] == "/p/sub"
    assert scope["test_patterns"] == []


def test_pytest_dispatch():
    assert parse_config("a/b/pytest.ini", "[pytest]\n")["framework"] == "pytest"
    assert parse_config(
        "a/pyproject.toml", "[tool.pytest.ini_options]\n"
    )["framework"] == "pytest"
    assert parse_config("a/pyproject.toml", "[tool.black]\n") is None
    assert parse_config("a/conftest.py", "")["framework"] == "pytest"


def test_pytest_config_bytes_to_resolved_scope(spark):
    """D5 end-to-end from pytest config bytes: nested conftest.py beats the
    repo-root pytest.ini by base-dir depth; unrelated pyproject.toml (no
    [tool.pytest]) contributes no scope."""
    from core_spark.operators.detect import resolve_scopes

    configs = [
        ("proj/pytest.ini", "[pytest]\ntestpaths = tests\n"),
        ("proj/pkg/conftest.py", "import pytest\n"),
        ("proj/pyproject.toml", "[tool.poetry]\nname = 'x'\n"),
    ]
    scopes = [parse_config(p, c) for p, c in configs]
    rows = scopes_to_rows([s for s in scopes if s])
    scopes_df = spark.createDataFrame(
        rows, "cfg_path string, base_dir string, framework string"
    )
    files = spark.createDataFrame(
        [("proj/tests/test_a.py",), ("proj/pkg/test_b.py",)], "path string"
    )
    got = {
        r["path"]: (r["cfg_path"], r["framework"])
        for r in resolve_scopes(files, scopes_df).collect()
    }
    assert got["proj/tests/test_a.py"] == ("proj/pytest.ini", "pytest")
    assert got["proj/pkg/test_b.py"] == ("proj/pkg/conftest.py", "pytest")


def test_scan_configs_error_as_data():
    """Discovered-but-unparseable config files become config-parse error
    rows (scanner.go:374-416 parity: .rspec / phpunit.xml have nil
    ConfigParsers in the reference too), never silent drops."""
    from core_spark.functions.configparse import (
        CONFIG_DISCOVERY_NAMES,
        scan_configs,
    )

    configs = [
        ("app/.rspec", "--require spec_helper"),
        ("app/phpunit.xml", "<phpunit/>"),
        ("app/jest.config.js", "module.exports = {}"),
        # discovered name, parser declines: pyproject without tool.pytest
        ("app/pyproject.toml", "[tool.black]\nline-length = 88\n"),
    ]
    assert all(p.rsplit("/", 1)[-1] in CONFIG_DISCOVERY_NAMES
               for p, _ in configs)
    scopes, errors = scan_configs(configs)
    assert [s["framework"] for s in scopes] == ["jest"]
    assert {e["path"] for e in errors} == {
        "app/.rspec", "app/phpunit.xml", "app/pyproject.toml"
    }
    assert all(e["phase"] == "config-parse" for e in errors)
    assert all(e["error"] == "no matching framework config parser"
               for e in errors)


def test_discovery_names_cover_dispatch():
    """Every dispatch pattern's canonical names are discoverable (the
    reference discovers a SUPERSET of what its parsers parse)."""
    from core_spark.functions.configparse import (
        CONFIG_DISCOVERY_NAMES,
        scan_configs,
    )

    parseable = [
        "jest.config.js", "vitest.config.ts", "playwright.config.ts",
        ".mocharc.json", "cypress.config.js", "pytest.ini", "conftest.py",
    ]
    for name in parseable:
        assert name in CONFIG_DISCOVERY_NAMES, name
        scopes, errors = scan_configs([(f"x/{name}", "")])
        assert not errors or name == "pyproject.toml", name
