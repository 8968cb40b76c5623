"""Every defaulted parameter and dataclass field has a caller that sets it.

An AST scan over the repo's ``.py`` files. A parameter or field that no
call ever sets has exactly one value in use, its default, so it belongs in
the body as a literal or constant rather than in the signature.

Rules:

- Scope: every ``def`` under ``automated_etl_pipeline_spark/`` (module
  level, nested or method) with a defaulted parameter, and every defaulted
  field of a ``@dataclass`` there. A class call reaches its ``__init__``
  or, for a dataclass, its fields.
- A call reaches a def only when the scan can follow its callee there: a
  name bound by a ``def``/``class`` in an enclosing scope or by
  ``from X import f`` (re-exports followed), an attribute of an imported
  module or of a class, ``self.m``/``cls.m`` inside that class, or
  ``obj.m`` when ``obj`` is not bound to anything outside the repo and
  exactly one package class defines a method ``m``. A call the scan
  cannot follow sets nothing.
- A call sets a parameter by keyword, positionally (``self``/``cls`` left
  out) or through ``*``/``**``, unless the argument is a constant equal to
  the default (a literal, or a module constant bound to one): passing the
  default spells the same one value. Tests count as callers, and a test
  that passes the default still sets it (dropping the parameter would
  mean editing the test).
- An assignment ``x.<field> = ...`` anywhere also sets a dataclass field.
- Functions no call reaches are skipped, and so are functions referenced
  as a value (a name or attribute that resolves to the def without
  calling it): those are reached through a reference the scan cannot
  follow. A class named as a value (an annotation, ``isinstance``) is
  still scanned.
"""
from __future__ import annotations

import ast
from collections import defaultdict
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = "automated_etl_pipeline_spark"
_SKIP_DIRS = {"__pycache__", ".perfbench_runs", ".git", ".pytest_cache",
              ".hypothesis", "spark-warehouse"}
_NO_VALUE = object()
_EXTERNAL = ("external",)   # a name bound to something outside the repo


def _module_name(rel):
    parts = list(rel.with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


class _Def:
    """One ``def`` or ``class`` of the package."""

    def __init__(self, key, module, node, cls=None):
        self.key, self.module, self.node, self.cls = key, module, node, cls
        self.members = {}      # methods of a class, nested defs of a def
        self.calls = []        # (call node, module of the call)
        self.value_use = False


class _Module:
    def __init__(self, name, tree, is_package):
        self.name, self.tree, self.is_package = name, tree, is_package
        self.bindings = {}     # name -> _Def | ("module", m) | ("from", m, a)
        self.consts = {}       # name -> value of a literal module constant


def _literal(node):
    try:
        return ast.literal_eval(node)
    except (ValueError, TypeError, SyntaxError, MemoryError, RecursionError):
        return _NO_VALUE


def _import_bindings(stmt, module):
    """(local name, binding) pairs an import statement makes."""
    if isinstance(stmt, ast.Import):
        for a in stmt.names:
            if a.asname:
                yield a.asname, ("module", a.name)
            else:
                head = a.name.split(".")[0]
                yield head, ("module", head)
        return
    base = stmt.module or ""
    if stmt.level:
        pkg = module.name.split(".")
        if not module.is_package:
            pkg = pkg[:-1]
        pkg = pkg[:len(pkg) - stmt.level + 1]
        base = ".".join(pkg + ([base] if base else []))
    for a in stmt.names:
        if a.name != "*":
            yield a.asname or a.name, ("from", base, a.name)


def _is_dataclass(node):
    for dec in node.decorator_list:
        target = dec.func if isinstance(dec, ast.Call) else dec
        name = target.attr if isinstance(target, ast.Attribute) else \
            getattr(target, "id", None)
        if name == "dataclass":
            return True
    return False


class _Index:
    """Defs, bindings and constants of every module in the repo."""

    def __init__(self, repo):
        self.modules = {}
        self.defs = []
        for path in sorted(repo.rglob("*.py")):
            rel = path.relative_to(repo)
            if not _SKIP_DIRS.isdisjoint(rel.parts):
                continue
            tree = ast.parse(path.read_text(), filename=str(path))
            name = _module_name(rel)
            self.modules[name] = _Module(name, tree,
                                         path.name == "__init__.py")
        for mod in self.modules.values():
            in_package = mod.name.split(".")[0] == PACKAGE
            for stmt in mod.tree.body:
                self._bind(stmt, mod, mod.bindings, mod.name + "::",
                           in_package, None)
                if isinstance(stmt, ast.Assign) and len(stmt.targets) == 1 \
                        and isinstance(stmt.targets[0], ast.Name):
                    value = _literal(stmt.value)
                    if value is not _NO_VALUE:
                        mod.consts[stmt.targets[0].id] = value
        methods = defaultdict(list)
        for d in self.defs:
            if d.cls is not None:
                methods[d.node.name].append(d)
        self.unique_methods = {n: ds[0] for n, ds in methods.items()
                               if len(ds) == 1}

    def _bind(self, stmt, mod, scope, prefix, in_package, cls):
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            d = _Def(prefix + stmt.name, mod, stmt, cls)
            scope[stmt.name] = d
            if in_package:
                self.defs.append(d)
            sub_cls = d if isinstance(stmt, ast.ClassDef) else None
            for child in stmt.body:
                self._bind(child, mod, d.members, d.key + ".", in_package,
                           sub_cls)
        elif isinstance(stmt, (ast.Import, ast.ImportFrom)):
            scope.update(_import_bindings(stmt, mod))
        else:
            for field in ("body", "orelse", "finalbody", "handlers"):
                for child in getattr(stmt, field, []):
                    if isinstance(child, ast.stmt) or \
                            isinstance(child, ast.ExceptHandler):
                        self._bind(child, mod, scope, prefix, in_package, cls)

    def resolve_binding(self, binding, depth=0):
        """Follow an import binding to a def, a module, ``_EXTERNAL`` or
        None."""
        if depth > 10:
            return None
        if isinstance(binding, _Def) or binding in (None, _EXTERNAL):
            return binding
        if binding[0] == "module":
            return binding if binding[1] in self.modules or any(
                m.startswith(binding[1] + ".") for m in self.modules) \
                else _EXTERNAL
        _, base, attr = binding
        full = f"{base}.{attr}" if base else attr
        if full in self.modules:
            return ("module", full)
        mod = self.modules.get(base)
        if mod is None:
            return _EXTERNAL
        return self.resolve_binding(mod.bindings.get(attr), depth + 1)

    def member(self, target, attr):
        if target == _EXTERNAL:
            return _EXTERNAL
        if isinstance(target, _Def):
            return target.members.get(attr) \
                if isinstance(target.node, ast.ClassDef) else None
        if isinstance(target, tuple) and target[0] == "module":
            mod = self.modules.get(target[1])
            if mod is not None:
                return self.resolve_binding(mod.bindings.get(attr)) or \
                    (("module", f"{target[1]}.{attr}")
                     if f"{target[1]}.{attr}" in self.modules else None)
        return None

    def constant(self, node, module):
        """Value of a literal or of a name bound to a literal constant."""
        value = _literal(node)
        if value is not _NO_VALUE:
            return value
        name = None
        if isinstance(node, ast.Name):
            target = module.bindings.get(node.id)
            if target is None:
                return module.consts.get(node.id, _NO_VALUE)
            name, owner = node.id, module
            if isinstance(target, tuple) and target[0] == "from":
                owner, name = self.modules.get(target[1]), target[2]
        elif isinstance(node, ast.Attribute) and \
                isinstance(node.value, ast.Name):
            target = self.resolve_binding(module.bindings.get(node.value.id))
            if isinstance(target, tuple) and target[0] == "module":
                owner, name = self.modules.get(target[1]), node.attr
        if name is None or owner is None:
            return _NO_VALUE
        return owner.consts.get(name, _NO_VALUE)


def _local_names(node):
    """Names a function binds in its own scope (nested scopes left out)."""
    args = node.args
    names = {a.arg for a in args.posonlyargs + args.args + args.kwonlyargs +
             [args.vararg, args.kwarg] if a is not None}
    todo = list(node.body)
    while todo:
        child = todo.pop()
        if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef,
                              ast.ClassDef)):
            names.add(child.name)
            continue
        if isinstance(child, ast.Lambda):
            continue
        if isinstance(child, ast.Name) and isinstance(child.ctx, ast.Store):
            names.add(child.id)
        elif isinstance(child, ast.ExceptHandler) and child.name:
            names.add(child.name)
        todo.extend(ast.iter_child_nodes(child))
    return names


class _Walker(ast.NodeVisitor):
    """Resolve every call and value reference of one module."""

    def __init__(self, index, module):
        self.index, self.module = index, module
        self.scopes = []      # (bindings, class of the method or None)
        self.class_body = None
        self.callees = set()

    def lookup(self, name):
        for bindings, _ in reversed(self.scopes):
            if name in bindings:
                return self.index.resolve_binding(bindings[name])
        return self.index.resolve_binding(self.module.bindings.get(name))

    def resolve(self, node):
        if isinstance(node, ast.Name):
            return self.lookup(node.id)
        if not isinstance(node, ast.Attribute):
            return None
        if isinstance(node.value, ast.Name) and \
                node.value.id in ("self", "cls") and self.scopes and \
                self.scopes[-1][1] is not None:
            return self.scopes[-1][1].members.get(node.attr)
        target = self.resolve(node.value)
        return None if target is None else self.index.member(target,
                                                             node.attr)

    def visit_Call(self, node):
        self.callees.add(id(node.func))
        target = self.resolve(node.func)
        if target is None and isinstance(node.func, ast.Attribute) and \
                self.resolve(node.func.value) is None:
            target = self.index.unique_methods.get(node.func.attr)
        if isinstance(target, _Def):
            target.calls.append((node, self.module))
        self.generic_visit(node)

    def _value(self, node):
        if id(node) not in self.callees:
            target = self.resolve(node)
            if isinstance(target, _Def):
                target.value_use = True

    def visit_Name(self, node):
        if isinstance(node.ctx, ast.Load):
            self._value(node)

    def visit_Attribute(self, node):
        if isinstance(node.ctx, ast.Load):
            self._value(node)
        self.generic_visit(node)

    def _own_def(self, node):
        scope = self.class_body.members if self.class_body is not None else \
            self.scopes[-1][0] if self.scopes else self.module.bindings
        d = scope.get(node.name)
        return d if isinstance(d, _Def) and d.node is node else None

    def visit_FunctionDef(self, node):
        for expr in node.decorator_list + node.args.defaults + \
                [d for d in node.args.kw_defaults if d is not None]:
            self.visit(expr)
        d = self._own_def(node)
        bindings = dict.fromkeys(_local_names(node))
        for child in ast.walk(node):
            if isinstance(child, (ast.Import, ast.ImportFrom)):
                bindings.update(_import_bindings(child, self.module))
        if d is not None:
            bindings.update(d.members)
        method_of = self.class_body
        self.scopes.append((bindings, method_of))
        self.class_body = None
        for stmt in node.body:
            self.visit(stmt)
        self.class_body = method_of
        self.scopes.pop()

    visit_AsyncFunctionDef = visit_FunctionDef

    def visit_ClassDef(self, node):
        for expr in node.decorator_list + node.bases:
            self.visit(expr)
        d = self._own_def(node)
        outer, self.class_body = self.class_body, d
        self.scopes.append(({}, None))
        for stmt in node.body:
            self.visit(stmt)
        self.scopes.pop()
        self.class_body = outer

    def visit_Lambda(self, node):
        self.scopes.append((dict.fromkeys(a.arg for a in node.args.args),
                            None))
        self.visit(node.body)
        self.scopes.pop()

    def run(self):
        self.visit(self.module.tree)


def _parameters(d):
    """(positional names without self/cls, {defaulted name: default node})."""
    node = d.node
    if isinstance(node, ast.ClassDef):
        names, defaults = [], {}
        for stmt in node.body:
            if isinstance(stmt, ast.AnnAssign) and \
                    isinstance(stmt.target, ast.Name):
                names.append(stmt.target.id)
                if stmt.value is not None:
                    defaults[stmt.target.id] = stmt.value
        return names, defaults
    a = node.args
    positional = [p.arg for p in a.posonlyargs + a.args]
    defaults = dict(zip(positional[len(positional) - len(a.defaults):],
                        a.defaults)) if a.defaults else {}
    defaults.update({p.arg: v for p, v in zip(a.kwonlyargs, a.kw_defaults)
                     if v is not None})
    if d.cls is not None and positional and positional[0] in ("self", "cls"):
        positional = positional[1:]
    return positional, defaults


def _set_names(index, target, calls):
    positional, defaults = _parameters(target)
    names = set()
    for call, module in calls:
        starred = next((i for i, a in enumerate(call.args)
                        if isinstance(a, ast.Starred)), None)
        if starred is not None:
            names |= set(positional[starred:])
        if any(k.arg is None for k in call.keywords):
            names |= set(defaults)
        passed = list(zip(positional, call.args[:starred]))
        passed += [(k.arg, k.value) for k in call.keywords if k.arg]
        for name, arg in passed:
            default = defaults.get(name)
            if default is not None and not module.name.startswith("tests."):
                value = index.constant(arg, module)
                same = index.constant(default, target.module)
                if value is not _NO_VALUE and type(value) is type(same) \
                        and value == same:
                    continue
            names.add(name)
    return positional, defaults, names


def scan(repo=REPO):
    """Return (unset parameters, unset dataclass fields), each as sorted
    ``"<module path>::<qualname>(<name>=)"`` / ``"<module>::<Class>.<field>"``."""
    index = _Index(repo)
    for module in index.modules.values():
        _Walker(index, module).run()
    attr_stores = set()
    for module in index.modules.values():
        for node in ast.walk(module.tree):
            if isinstance(node, ast.Attribute) and \
                    isinstance(node.ctx, ast.Store):
                attr_stores.add(node.attr)

    params, fields = [], []
    for d in index.defs:
        where = _display(d)
        if isinstance(d.node, ast.ClassDef):
            if _is_dataclass(d.node):
                _, defaults, names = _set_names(index, d, d.calls)
                fields += [f"{where}.{f}" for f in defaults
                           if f not in names | attr_stores]
                continue
            init = d.members.get("__init__")
            if init is None or init.value_use or not d.calls:
                continue
            _, defaults, names = _set_names(index, init, d.calls + init.calls)
            params += [f"{where}.__init__({p}=)" for p in defaults
                       if p not in names]
            continue
        if not d.calls or d.value_use:
            continue
        _, defaults, names = _set_names(index, d, d.calls)
        params += [f"{where}({p}=)" for p in defaults if p not in names]
    return sorted(params), sorted(fields)


def _display(d):
    module, qual = d.key.split("::")
    path = module.replace(".", "/")
    if d.module.is_package:
        path += "/__init__"
    return f"{path}.py::{qual}"


def test_every_defaulted_parameter_and_field_has_a_caller_that_sets_it():
    params, fields = scan()
    assert not params and not fields, (
        f"{len(params)} defaulted parameters and {len(fields)} dataclass "
        "fields that no caller sets; make each a literal or constant in "
        "the body:\n" + "\n".join(params + fields))
