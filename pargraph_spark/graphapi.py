"""Thin task-graph front-end: ``@delayed``/``@graph`` tracing, topological
execution, JSON round-trip, Dask dict-graph ``get`` — the reference's
primary UX re-expressed for Spark.

Parity target (behavior, not mechanism):
- ``@delayed`` tracing and composition of pure Python functions
  (/root/reference/pargraph/graph/decorators.py:219-322);
- ``@graph`` composite (nested) tracing (decorators.py:105-217) — here a
  graph-decorated body executes at trace time, so its sub-expression
  flattens directly into the parent DAG (the reference reaches the same
  flat form via its explode_subgraphs rewrite, objects.py:826-932);
- the full operator-overload set on traced values (decorators.py:374-517);
- named multi-outputs via ``Result`` return annotations
  (annotation.py:5-72) with tuple unpacking;
- executable-graph serialization with pickled callables —
  ``to_json``/``from_json`` (objects.py:358-498, 264-273);
- Dask dict-graph execution: ``get({key: (fn, 'dep', ...)}, keys)``
  (engine.py:149-212 semantics: tuple tasks, key refs, nested lists).

Design stance (SURVEY.md §7.0): the reference needs a scheduler because
its tasks ARE the computation; here a task's body is usually a DataFrame
program, so the CLUSTER does the heavy lifting and the "backend" is a
driver-side thread pool that submits independent Spark jobs concurrently
(threads share the SparkSession; separate scheduler pools would give
fairness if needed). There is no dict-graph IR, no rewrite engine —
Catalyst culls/fuses each node's plan; this module only orders node
execution and memoizes shared dependencies (the diamond in a DAG runs
once, like the reference's ref-counted futures, engine.py:42-129).
Scheduling note: the threaded scheduler runs the same FIRST_COMPLETED
frontier as the reference (engine.py:79-100) — a node is submitted the
moment its last dependency resolves, so a straggler never delays an
independent ready node.

Example::

    @delayed
    def edges(spark):   return build_edges(...)
    @delayed
    def ranks(e):       return pagerank(spark, e).ranks
    @delayed
    def top(r, k):      return r.orderBy(F.desc("rank")).limit(k)

    top(ranks(edges(spark)), 10).compute()          # traced DAG -> result
    g = task.to_graph(); s = g.to_json()            # portable artifact
    TaskGraph.from_json(s).compute()                # replay anywhere
"""

from __future__ import annotations

import base64
import functools
import inspect
import json
import operator
import re
import warnings
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from typing import Annotated, Any, Callable, get_args, get_origin

from pyspark import cloudpickle


class Result:
    """Annotate a function output with a name (reference annotation.py:5-31):

    .. code:: python

        @delayed
        def stats(xs) -> tuple[Annotated[float, Result("mean")],
                               Annotated[float, Result("max")]]:
            ...
        mean, mx = stats(data)   # two named Delayed outputs
    """

    def __init__(self, name: str):
        self.name = name

    def get_name(self) -> str:
        return self.name


def _get_output_names(function: Callable):
    """Output name(s) from the return annotation (reference
    annotation.py:34-72 semantics): no/plain annotation -> "result";
    Annotated[..., Result(n)] -> n; tuple[...] -> one name per element
    (Result name or positional "result_i"), duplicates rejected."""
    try:
        # eval_str resolves PEP-563 string annotations (modules with
        # `from __future__ import annotations`)
        annotation = inspect.signature(function, eval_str=True).return_annotation
    except (TypeError, ValueError, NameError):
        # builtins / operator.* have no signature; unresolvable string
        # annotations mean no declared outputs
        return "result"
    origin = get_origin(annotation)

    def one(ann, fallback: str) -> str:
        if get_origin(ann) is not Annotated:
            return fallback
        _, *meta = get_args(ann)
        results = [m for m in meta if isinstance(m, Result)]
        if len(results) != 1:
            raise ValueError(
                f"output with type '{ann}' must have exactly one Result annotation"
            )
        return results[0].get_name()

    if origin is not tuple:
        return one(annotation, "result")
    args = get_args(annotation)
    if Ellipsis in args:
        # variadic tuple[X, ...]: the element count is unknown at trace
        # time, so this is ONE output holding a tuple — not positional
        # outputs (the Ellipsis must not become 'result_1')
        return "result"
    names: list[str] = []
    for i, arg in enumerate(args):
        name = one(arg, f"result_{i}")
        if name in names:
            raise ValueError(f"found duplicate output name '{name}'")
        names.append(name)
    return tuple(names)


def _iter_deps(value: Any):
    """Yield every Delayed reachable from an argument value, traversing
    list/tuple/dict containers (dask-delayed style: a Delayed nested in a
    container is a dependency, never a constant)."""
    if isinstance(value, Delayed):
        yield value
    elif isinstance(value, (list, tuple, set, frozenset)):
        for el in value:
            yield from _iter_deps(el)
    elif isinstance(value, dict):
        # keys too: Delayed is hashable (identity), so it can key a dict
        for k, el in value.items():
            yield from _iter_deps(k)
            yield from _iter_deps(el)


def _node_deps(node: "Delayed"):
    for v in list(node.args) + list(node.kwargs.values()):
        yield from _iter_deps(v)


class Delayed:
    """A traced call: ``fn(*args, **kwargs)`` whose arguments may be other
    Delayed nodes — directly, or nested inside list/tuple/dict containers.
    Building is free; nothing executes until compute()."""

    __slots__ = ("fn", "args", "kwargs", "name")

    def __init__(self, fn: Callable, args: tuple, kwargs: dict, name: str | None = None):
        self.fn = fn
        self.args = args
        self.kwargs = kwargs
        self.name = name or getattr(fn, "__name__", "task")

    # ---- execution ------------------------------------------------------
    def compute(self, scheduler: str = "threads", max_workers: int = 8,
                **kw: Any) -> Any:
        return compute(self, scheduler=scheduler, max_workers=max_workers, **kw)[0]

    def to_graph(self) -> "TaskGraph":
        return TaskGraph([self])

    # ---- ergonomics: operator overloads build further Delayed nodes -----
    # (full reference set, decorators.py:374-517; __hash__ stays identity —
    # the reference excludes hash overloading for the same purity reason)
    def _binop(self, op, other, swap=False):
        if swap:
            return Delayed(op, (other, self), {}, name=op.__name__)
        return Delayed(op, (self, other), {}, name=op.__name__)

    def __repr__(self) -> str:  # pragma: no cover
        return f"Delayed({self.name})"

    def __bool__(self) -> bool:
        raise TypeError(
            "Truth value of a Delayed node is undefined until compute(); "
            "Python's and/or/if cannot be traced (same constraint as the "
            "reference's GraphContext)."
        )

    def __iter__(self):
        # Without this, tuple-unpacking a single-output node would fall
        # back to the legacy __getitem__ sequence protocol and iterate
        # forever (getitem traces ANY index). Multi-output unpacking works
        # because tuple-annotated calls return a real tuple of nodes.
        raise TypeError(
            "Delayed is not iterable; declare multiple outputs with a "
            "tuple return annotation (optionally Result-named) to unpack."
        )

    __hash__ = object.__hash__  # identity — defining __eq__ would drop it


def _register_overloads() -> None:
    binary = [
        operator.add, operator.sub, operator.mul, operator.matmul,
        operator.truediv, operator.floordiv, operator.mod, divmod,
        operator.lshift, operator.rshift,
        operator.and_, operator.xor, operator.or_,
        operator.lt, operator.le, operator.eq, operator.ne,
        operator.gt, operator.ge, operator.getitem,
    ]
    reflected = [
        operator.add, operator.sub, operator.mul, operator.matmul,
        operator.truediv, operator.floordiv, operator.mod, divmod,
        operator.lshift, operator.rshift,
        operator.and_, operator.xor, operator.or_,
    ]
    unary = [operator.neg, operator.pos, operator.abs, operator.invert]

    def bin_meth(op):
        def meth(self, other):
            return self._binop(op, other)
        return meth

    def rbin_meth(op):
        def meth(self, other):
            return self._binop(op, other, swap=True)
        return meth

    def un_meth(op):
        def meth(self):
            return Delayed(op, (self,), {}, name=op.__name__)
        return meth

    for op in binary:
        setattr(Delayed, f"__{op.__name__.strip('_')}__", bin_meth(op))
    for op in reflected:
        setattr(Delayed, f"__r{op.__name__.strip('_')}__", rbin_meth(op))
    for op in unary:
        setattr(Delayed, f"__{op.__name__.strip('_')}__", un_meth(op))

    def _pow(self, other, mod=None):
        if mod is None:
            return self._binop(operator.pow, other)
        return Delayed(pow, (self, other, mod), {}, name="pow")

    def _rpow(self, other):
        return self._binop(operator.pow, other, swap=True)

    def _round(self, ndigits=None):
        return Delayed(round, (self, ndigits), {}, name="round")

    Delayed.__pow__ = _pow
    Delayed.__rpow__ = _rpow
    Delayed.__round__ = _round

    # contains / format / index (reference decorators.py:393,444-445).
    # Caveat shared with the reference: Python COERCES the results of
    # `x in y` / operator.contains (via bool) and `format(y)` /
    # f-strings (must return str), so those spellings raise at trace
    # time — the traceable spellings are the direct dunder calls
    # td.__contains__(x), td.__format__(spec), td.__index__().
    def _contains(self, other):
        return self._binop(operator.contains, other)

    def _format(self, spec=""):
        return Delayed(format, (self, spec), {}, name="format")

    def _index(self):
        return Delayed(operator.index, (self,), {}, name="index")

    Delayed.__contains__ = _contains
    Delayed.__format__ = _format
    Delayed.__index__ = _index


_register_overloads()


def _getattr_node(obj: Any, name: str) -> Any:
    return getattr(obj, name)


def _call_node(fn: Callable, args: tuple, kwargs: dict) -> Any:
    return fn(*args, **kwargs)


def _traced_getattr(self: "Delayed", item: str) -> "Delayed":
    """Trace attribute access on a Delayed into a getattr node (reference
    decorators.py:61-71 behavior): dunder probes raise AttributeError so
    pickling / copy / inspect protocols stay honest; anything else warns
    (a dedicated delayed function is clearer) and defers the lookup."""
    if item.startswith("__"):
        raise AttributeError(f"Attribute {item} not found")
    warnings.warn(
        "Accessing attributes on a Delayed node is not recommended; "
        "prefer a dedicated @delayed function",
        stacklevel=2,
    )
    return Delayed(_getattr_node, (self, item), {}, name="getattr")


def _traced_call(self: "Delayed", *args: Any, **kwargs: Any) -> "Delayed":
    """Trace calling a Delayed into a call node (reference
    decorators.py:73-86 behavior): the callee resolves at execution time;
    nested Delayed args/kwargs resolve through the container walk."""
    warnings.warn(
        "Calling a Delayed node is not recommended; "
        "prefer a dedicated @delayed function",
        stacklevel=2,
    )
    return Delayed(_call_node, (self, args, kwargs), {}, name="call")


Delayed.__getattr__ = _traced_getattr
Delayed.__call__ = _traced_call


def _wrap_call(fn: Callable, args: tuple, kwargs: dict):
    """Build the Delayed node(s) for one traced call, honoring a tuple /
    Result return annotation: multi-output functions return a tuple of
    named getitem views over the single call node (reference
    objects.py:1219-1227 unpacking UX)."""
    names = _get_output_names(fn)
    node = Delayed(fn, args, kwargs)
    if isinstance(names, tuple):
        return tuple(
            Delayed(operator.getitem, (node, i), {}, name=nm)
            for i, nm in enumerate(names)
        )
    return node


def delayed(fn: Callable) -> Callable:
    """Decorator: calls build Delayed nodes instead of executing. Pure
    functions only (same contract as the reference's @delayed). A tuple
    return annotation (optionally with Result names) makes calls return a
    tuple of Delayed outputs that unpack naturally."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        return _wrap_call(fn, args, kwargs)

    wrapper.__wrapped__ = fn
    return wrapper


def graph(function: Callable) -> Callable:
    """Composite (nested-subgraph) tracing — the reference's ``@graph``
    (decorators.py:105-217). The decorated body must be composed of
    @delayed/@graph calls and overloaded expressions on its arguments.

    Called with any Delayed argument: the body runs immediately at trace
    time, so the sub-expression it builds flattens into the parent DAG
    (the reference represents the nesting as a GraphCall node and offers
    explode_subgraphs to flatten; here flat IS the representation — the
    scheduler then sees maximum node-level parallelism).

    Called with all-concrete arguments: the traced expression is computed
    on the spot and the VALUE is returned — the reference's direct-call
    short-circuit (decorators.py:131-133), which makes the metamorphic
    identity `g(x) == g(delayed_x).compute()` hold by construction.

    Variadic parameters are rejected, as in the reference
    (decorators.py:121-124)."""
    sig = inspect.signature(function)
    for param in sig.parameters.values():
        if param.kind in (inspect.Parameter.VAR_POSITIONAL, inspect.Parameter.VAR_KEYWORD):
            raise ValueError(
                "Variadic positional and/or keyword arguments are not supported"
            )

    @functools.wraps(function)
    def wrapper(*args, **kwargs):
        traced = any(
            True for v in list(args) + list(kwargs.values()) for _ in _iter_deps(v)
        )
        result = function(*args, **kwargs)
        if traced:
            return result
        # direct call: materialize any Delayed the body built
        return _materialize(result)

    wrapper.__wrapped__ = function
    return wrapper


def _materialize(result):
    """Compute every Delayed inside a direct-call @graph result. Handles
    the same container shapes _iter_deps traverses (list/tuple/dict/set)
    — a body returning [d1, d2] must not leak uncomputed Delayed
    objects to the caller, which would break the direct-call identity.
    All found nodes go through ONE compute() call so shared subgraphs
    stay memoized across container elements."""
    if isinstance(result, Delayed):
        return result.compute()
    found: list = []

    def collect(x):
        if isinstance(x, Delayed):
            found.append(x)
        elif isinstance(x, (list, tuple, set)):
            for v in x:
                collect(v)
        elif isinstance(x, dict):
            for v in x.values():
                collect(v)

    collect(result)
    if not found:
        return result
    values = {id(d): v for d, v in zip(found, compute(*found))}

    def subst(x):
        if isinstance(x, Delayed):
            return values[id(x)]
        if isinstance(x, list):
            return [subst(v) for v in x]
        if isinstance(x, tuple):
            return tuple(subst(v) for v in x)
        if isinstance(x, set):
            return {subst(v) for v in x}
        if isinstance(x, dict):
            return {k: subst(v) for k, v in x.items()}
        return x

    return subst(result)


def _walk(roots: list[Delayed]) -> list[Delayed]:
    """Deterministic post-order over the DAG (dependencies first), each
    node once (by identity — a shared dependency is a single node).
    Container arguments (list/tuple/dict) are traversed."""
    order: list[Delayed] = []
    seen: set[int] = set()

    # iterative post-order: deep linear chains (thousands of overload
    # nodes — fuse_sequential's own target workload) blew Python's
    # recursion limit in the recursive form
    for r in roots:
        stack: list[tuple[Delayed, bool]] = [(r, False)]
        while stack:
            node, expanded = stack.pop()
            if expanded:
                order.append(node)
                continue
            if id(node) in seen:
                continue
            seen.add(id(node))
            stack.append((node, True))
            # push deps reversed so they pop (and append) in
            # left-to-right order — identical order to the recursive walk
            for dep in reversed(list(_node_deps(node))):
                stack.append((dep, False))
        # (a dep already seen but not yet appended cannot occur on the
        # same root: seen is only set when its post-visit is scheduled)
    return order


class Backend:
    """Pluggable executor protocol (reference engine.py:16-18): anything
    with ``submit(fn, *args, **kwargs) -> concurrent.futures.Future``.
    Every ``concurrent.futures.Executor`` already satisfies it; subclass
    this (or duck-type) to route node execution elsewhere — e.g. a pool
    with per-query Spark scheduler pools, or a remote submission shim."""

    def submit(self, fn: Callable, /, *args: Any, **kwargs: Any):
        raise NotImplementedError


def _unbound_input(*, key: str) -> Any:
    raise ValueError(
        f"external input {key!r} is unbound; pass inputs={{{key!r}: value}} "
        "to compute()"
    )


def external_input(name: str) -> Delayed:
    """Placeholder node whose value binds at COMPUTE time, not trace time
    (reference decorators.py:97-103 unbound inputs): build a graph once,
    serialize it, then run it against different inputs via
    ``compute(root, inputs={name: value})``. Unbound at execution →
    a clear ValueError naming the missing input."""
    return Delayed(_unbound_input, (), {"key": name}, name=f"input:{name}")


def compute(
    *roots: Delayed,
    scheduler: str = "threads",
    max_workers: int = 8,
    backend: Backend | None = None,
    inputs: dict[str, Any] | None = None,
) -> list[Any]:
    """Execute the DAG under the given roots; returns one result per root.

    scheduler="threads" runs independent ready nodes concurrently in a
    driver thread pool (concurrent Spark job submission — the idiomatic
    Spark counterpart of the reference's process backends, which would
    only add pickling overhead around JVM-side work).
    scheduler="sync" runs nodes sequentially in topological order.
    backend: optional Backend/Executor whose submit() replaces the
    built-in thread pool (frontier scheduling is unchanged; sync mode
    ignores it). inputs: values for external_input() placeholders.
    Shared nodes are computed exactly once (memoized per compute call).
    Delayed nodes nested inside list/tuple/set/dict arguments are
    resolved in place (the container is rebuilt with results
    substituted)."""
    if scheduler not in ("threads", "sync"):
        raise ValueError(f"unknown scheduler {scheduler!r}")
    order = _walk(list(roots))
    results: dict[int, Any] = {}

    def resolve(v):
        if isinstance(v, Delayed):
            return results[id(v)]
        if isinstance(v, list):
            return [resolve(el) for el in v]
        if isinstance(v, tuple):
            return tuple(resolve(el) for el in v)
        if isinstance(v, (set, frozenset)):
            return type(v)(resolve(el) for el in v)
        if isinstance(v, dict):
            return {resolve(k): resolve(el) for k, el in v.items()}
        return v

    def run(node: Delayed):
        if node.fn is _unbound_input:
            key = node.kwargs["key"]
            if inputs is not None and key in inputs:
                return inputs[key]
            _unbound_input(key=key)  # raises with the missing-input message
        args = [resolve(a) for a in node.args]
        kwargs = {k: resolve(v) for k, v in node.kwargs.items()}
        return node.fn(*args, **kwargs)

    if scheduler == "sync":
        for node in order:
            results[id(node)] = run(node)
    else:
        # FIRST_COMPLETED frontier (reference engine.py:79-100): a node is
        # submitted the moment its last dependency resolves, and every
        # future completion immediately releases its ready dependents — a
        # straggler never blocks an independent ready node (the wave
        # barrier this replaces made one slow node gate the entire next
        # wave).
        nodes = {id(n): n for n in order}
        deps = {id(n): {id(d) for d in _node_deps(n)} for n in order}
        dependents: dict[int, list[int]] = {}
        for nid, ds in deps.items():
            for d in ds:
                dependents.setdefault(d, []).append(nid)
        unresolved = {nid: len(ds) for nid, ds in deps.items()}
        pool = ThreadPoolExecutor(max_workers=max_workers) if backend is None else None
        submitter = pool.submit if backend is None else backend.submit
        try:
            inflight: dict[Any, int] = {}

            def submit(nid: int) -> None:
                inflight[submitter(run, nodes[nid])] = nid

            for nid, k in unresolved.items():
                if k == 0:
                    submit(nid)
            while inflight:
                done, _ = wait(set(inflight), return_when=FIRST_COMPLETED)
                for fut in done:
                    nid = inflight.pop(fut)
                    results[nid] = fut.result()  # re-raises node errors
                    for m in dependents.get(nid, ()):
                        unresolved[m] -= 1
                        if unresolved[m] == 0:
                            submit(m)
        finally:
            if pool is not None:
                pool.shutdown(wait=True)
    return [results[id(r)] for r in roots]


# ---------------------------------------------------------------------------
# Dask dict-graph compatibility (reference engine.py:149-212, README.md:160)
# ---------------------------------------------------------------------------


def _is_task(value: Any) -> bool:
    return isinstance(value, tuple) and len(value) > 0 and callable(value[0])


def get(dsk: dict, keys, scheduler: str = "threads", max_workers: int = 8):
    """Execute a Dask-style dict graph — the reference's drop-in-for-Dask
    entry point (``engine.get``). Semantics mirrored from the reference's
    engine (and Dask's spec): a value that is a tuple with a callable head
    is a task; task arguments may be keys of the graph (hashable values
    present as keys), nested tasks, or lists of these; any other value is
    a literal. ``keys`` is one key or an arbitrarily nested list of keys;
    the result has the same shape. Shared dependencies compute once; a
    reference cycle raises ValueError (reference tests/test_engine.py
    shapes: literals, nested tasks, list aggregation)."""
    memo: dict[Any, Any] = {}
    visiting: set = set()

    def build_key(key):
        if key in memo:
            return memo[key]
        if key in visiting:
            raise ValueError(f"cycle detected in graph at key {key!r}")
        visiting.add(key)
        node = build_val(dsk[key])
        visiting.discard(key)
        memo[key] = node
        return node

    def build_val(value):
        if _is_task(value):
            fn, *args = value
            return Delayed(
                fn, tuple(build_val(a) for a in args), {},
                name=getattr(fn, "__name__", "task"),
            )
        if isinstance(value, list):
            # lists act as containers; compute() resolves nested Delayed
            return [build_val(el) for el in value]
        try:
            if value in dsk:
                return build_key(value)
        except TypeError:  # unhashable literal
            pass
        return value

    def shape(ks):
        if isinstance(ks, list):
            return [shape(k) for k in ks]
        if ks not in dsk:
            raise KeyError(f"key {ks!r} not in graph")
        return build_key(ks)

    built = shape(keys)

    # one compute() over every Delayed root for shared-dependency memoization
    roots: list[Delayed] = []

    def collect(v):
        if isinstance(v, Delayed):
            roots.append(v)
        elif isinstance(v, list):
            for el in v:
                collect(el)

    collect(built)
    if roots:
        values = compute(*roots, scheduler=scheduler, max_workers=max_workers)
        resolved = dict(zip((id(r) for r in roots), values))
    else:
        resolved = {}

    def unbuild(v):
        if isinstance(v, Delayed):
            return resolved[id(v)]
        if isinstance(v, list):
            return [unbuild(el) for el in v]
        return v

    return unbuild(built)


# ---- pargraph wire-format helpers (reference objects.py:36-101) ----------

_PG_KEY = r"[a-zA-Z0-9_]+(\.[a-zA-Z0-9_]+)*"
_PG_KEY_RE = re.compile(rf"^{_PG_KEY}$")
_PG_SRC_RE = re.compile(
    rf"^(consts|inputs):{_PG_KEY}$|^nodes:{_PG_KEY}:outputs:{_PG_KEY}$"
)
_PG_DST_RE = re.compile(rf"^nodes:{_PG_KEY}:inputs:{_PG_KEY}$")


class _NamedArgsAdapter:
    """Wire-format shim: the pargraph FunctionCall binds arguments by
    NAME, our nodes call positionally — this picklable callable maps
    arg_0..arg_{n-1} plus keyword names back onto the wrapped function,
    so an emitted node executes identically on any engine that can
    unpickle callables."""

    def __init__(self, fn: Callable, n_args: int, kw_names: list[str]):
        self.fn = fn
        self.n_args = n_args
        self.kw_names = list(kw_names)

    def __call__(self, **named: Any) -> Any:
        args = [named[f"arg_{i}"] for i in range(self.n_args)]
        return self.fn(*args, **{k: named[k] for k in self.kw_names})


def _decode_pargraph_const(c: dict) -> Any:
    raw = base64.b64decode(c["value"].encode("ascii"))
    if c["type"] == "cloudpickle":
        return cloudpickle.loads(raw)
    if c["type"] == "msgpack":
        try:
            import msgpack
        except ImportError:
            raise ValueError(
                "graph const is msgpack-encoded but msgpack is not installed"
            )
        return msgpack.unpackb(raw)
    raise ValueError(f"unknown const codec {c['type']!r}")


def _validate_pargraph_doc(doc: dict) -> None:
    """Structural validation mirroring the reference's JSON-Schema checks
    (objects.py:36-101): section key patterns, edge src/dst key shapes,
    output references."""
    for section in ("consts", "inputs", "nodes", "outputs"):
        for k in doc.get(section, {}):
            if not _PG_KEY_RE.match(k):
                raise ValueError(f"invalid {section} key {k!r}")
    for src, dst in doc.get("edges", []):
        if not _PG_SRC_RE.match(src):
            raise ValueError(f"invalid edge source {src!r}")
        if not _PG_DST_RE.match(dst):
            raise ValueError(f"invalid edge destination {dst!r}")
    for k, v in doc.get("outputs", {}).items():
        if not _PG_SRC_RE.match(v):
            raise ValueError(f"invalid output reference {v!r}")


class TaskGraph:
    """A set of root Delayed nodes with a portable JSON form.

    to_json pickles each node's callable (pyspark's cloudpickle — the
    same serializer the reference uses for Const/graph round-trips,
    objects.py:264-273) and every non-Delayed argument, base64-wrapped in
    a plain-JSON node list; containers (list/tuple/dict) are encoded
    structurally so Delayed refs inside them survive the round trip.
    from_json rebuilds an executable graph.
    SECURITY: from_json executes pickled code on compute — only load
    artifacts you wrote (same trust model as the reference's from_json).
    """

    def __init__(self, roots: list[Delayed]):
        self.roots = roots

    def compute(self, scheduler: str = "threads", max_workers: int = 8,
                **kw: Any) -> list[Any]:
        return compute(*self.roots, scheduler=scheduler, max_workers=max_workers, **kw)

    # ---- serialization --------------------------------------------------
    def to_json(self) -> str:
        order = _walk(self.roots)
        ids = {id(n): i for i, n in enumerate(order)}

        def enc_val(v) -> dict:
            if isinstance(v, Delayed):
                return {"ref": ids[id(v)]}
            if isinstance(v, list):
                return {"list": [enc_val(el) for el in v]}
            if isinstance(v, tuple):
                return {"tuple": [enc_val(el) for el in v]}
            if isinstance(v, (set, frozenset)):
                tag = "set" if isinstance(v, set) else "frozenset"
                return {tag: [enc_val(el) for el in v]}
            if isinstance(v, dict) and all(isinstance(k, str) for k in v):
                return {"dict": {k: enc_val(el) for k, el in v.items()}}
            if isinstance(v, dict):
                # non-str keys: key/value pair list keeps node refs
                # structural (a pickled Delayed would silently duplicate
                # the subgraph and lose sharing)
                return {"kvdict": [[enc_val(k), enc_val(el)] for k, el in v.items()]}
            return {"pickle": base64.b64encode(cloudpickle.dumps(v)).decode()}

        nodes = [
            {
                "id": ids[id(n)],
                "name": n.name,
                "fn": base64.b64encode(cloudpickle.dumps(n.fn)).decode(),
                "args": [enc_val(a) for a in n.args],
                "kwargs": {k: enc_val(v) for k, v in n.kwargs.items()},
            }
            for n in order
        ]
        return json.dumps(
            {"version": 1, "nodes": nodes, "roots": [ids[id(r)] for r in self.roots]}
        )

    @classmethod
    def from_json(cls, s: str) -> "TaskGraph":
        doc = json.loads(s)
        built: dict[int, Delayed] = {}

        def dec_val(v: dict):
            if "ref" in v:
                return built[v["ref"]]
            if "list" in v:
                return [dec_val(el) for el in v["list"]]
            if "tuple" in v:
                return tuple(dec_val(el) for el in v["tuple"])
            if "set" in v:
                return {dec_val(el) for el in v["set"]}
            if "frozenset" in v:
                return frozenset(dec_val(el) for el in v["frozenset"])
            if "dict" in v:
                return {k: dec_val(el) for k, el in v["dict"].items()}
            if "kvdict" in v:
                return {dec_val(k): dec_val(el) for k, el in v["kvdict"]}
            return cloudpickle.loads(base64.b64decode(v["pickle"]))

        for nd in doc["nodes"]:  # nodes are stored dependencies-first
            fn = cloudpickle.loads(base64.b64decode(nd["fn"]))
            args = tuple(dec_val(a) for a in nd["args"])
            kwargs = {k: dec_val(v) for k, v in nd["kwargs"].items()}
            built[nd["id"]] = Delayed(fn, args, kwargs, name=nd["name"])
        return cls([built[i] for i in doc["roots"]])

    # ---- pargraph wire-format interop (reference objects.py:36-101,
    # 358-498): the JSON-Schema-validated consts/inputs/nodes/edges/
    # outputs layout, so artifacts serialized by a pargraph deployment
    # load here and vice versa. ------------------------------------------

    def to_pargraph_json(self) -> str:
        """Serialize in the reference's edge-list wire format:

        - ``consts``: {key: {"type", "value"}} — b64 cloudpickle (msgpack
          is the reference's preferred codec but is optional kit; the
          format explicitly carries the codec per const, and cloudpickle
          is always legal).
        - ``inputs``: {key: null} for external_input placeholders.
        - ``nodes``: {key: {"function": b64, "serialized": true}} — each
          of our nodes ships as a FunctionCall whose callable adapts the
          wire format's NAMED argument binding back to our positional
          call (the adapter is itself just a pickled callable, so a
          reference engine can execute it too).
        - ``edges``: [[src, "nodes:<k>:inputs:<param>"], ...] with src ∈
          consts:/inputs:/nodes:<k>:outputs:result.
        - ``outputs``: {"result_<i>": src} — one per root.

        Node keys follow the deterministic post-order walk (n0, n1, ...),
        so identical graphs serialize identically (the reference's
        `stabilize` guarantee). Delayed nodes nested inside container
        arguments are NOT representable in this format (it has no
        structural containers) and raise; use to_json for those."""
        order = _walk(self.roots)
        node_ids: dict[int, str] = {}
        doc: dict[str, Any] = {
            "consts": {}, "inputs": {}, "nodes": {}, "edges": [], "outputs": {},
        }

        def src_key(dep: Any) -> str:
            if isinstance(dep, Delayed):
                if dep.fn is _unbound_input:
                    return f"inputs:{dep.kwargs['key']}"
                return f"nodes:{node_ids[id(dep)]}:outputs:result"
            if any(True for _ in _iter_deps(dep)):
                raise ValueError(
                    "pargraph wire format cannot represent a Delayed nested "
                    "inside a container argument; use to_json instead"
                )
            ckey = f"c{len(doc['consts'])}"
            doc["consts"][ckey] = {
                "type": "cloudpickle",
                "value": base64.b64encode(cloudpickle.dumps(dep)).decode("ascii"),
            }
            return f"consts:{ckey}"

        for i, n in enumerate(order):
            if n.fn is _unbound_input:
                doc["inputs"][n.kwargs["key"]] = None
                continue
            nid = f"n{i}"
            node_ids[id(n)] = nid
            kw_names = sorted(n.kwargs)
            adapter = _NamedArgsAdapter(n.fn, len(n.args), kw_names)
            doc["nodes"][nid] = {
                "function": base64.b64encode(cloudpickle.dumps(adapter)).decode("ascii"),
                "serialized": True,
            }
            for j, a in enumerate(n.args):
                doc["edges"].append([src_key(a), f"nodes:{nid}:inputs:arg_{j}"])
            for k in kw_names:
                doc["edges"].append([src_key(n.kwargs[k]), f"nodes:{nid}:inputs:{k}"])
        for i, r in enumerate(self.roots):
            doc["outputs"][f"result_{i}"] = src_key(r)
        _validate_pargraph_doc(doc)
        return json.dumps(doc)

    @classmethod
    def from_pargraph_json(cls, s: str) -> "TaskGraph":
        """Load a graph serialized in the reference wire format — either
        the edge-list layout (objects.py:372-428) or the node-arguments
        layout (objects.py:431-457; node dicts carry an ``args`` map
        instead of a top-level edge list). Functions marked
        ``serialized`` are unpickled; plain-string functions are imported
        by dotted path. Bound inputs (``inputs:{k: "consts:c"}``)
        resolve to their const's value; unbound inputs become
        external_input placeholders, bound at compute(inputs=...)."""
        doc = json.loads(s)
        consts = {
            k: _decode_pargraph_const(v) for k, v in doc.get("consts", {}).items()
        }
        node_args: dict[str, dict[str, str]] = {
            k: dict(nd.get("args", {})) for k, nd in doc.get("nodes", {}).items()
        }
        for src, dst in doc.get("edges", []):
            parts = dst.split(":")
            if len(parts) != 4 or parts[0] != "nodes" or parts[2] != "inputs":
                raise ValueError(f"invalid edge destination {dst!r}")
            _, nid, _, param = parts
            if nid not in node_args:
                raise KeyError(f"edge destination names unknown node {nid!r}")
            if param in node_args[nid]:
                raise ValueError(f"parameter {param!r} of node {nid!r} bound twice")
            node_args[nid][param] = src

        input_nodes: dict[str, Delayed] = {}

        def resolve_input(key: str):
            bound = doc.get("inputs", {}).get(key)
            if bound is not None:
                return resolve_src(bound)
            if key not in input_nodes:
                input_nodes[key] = external_input(key)
            return input_nodes[key]

        built: dict[str, Delayed] = {}
        building: set[str] = set()

        def build_node(nid: str) -> Delayed:
            if nid in built:
                return built[nid]
            if nid in building:
                raise ValueError(f"cycle detected at node {nid!r}")
            building.add(nid)
            nd = doc["nodes"][nid]
            fn_field = nd["function"]
            if nd.get("serialized", False):
                fn = cloudpickle.loads(base64.b64decode(fn_field.encode("ascii")))
            else:
                mod, _, attr = fn_field.rpartition(".")
                if not mod:
                    raise ValueError(
                        f"node {nid!r} function {fn_field!r} is neither "
                        "serialized nor an importable dotted path"
                    )
                fn = getattr(__import__(mod, fromlist=[attr]), attr)
            kwargs = {p: resolve_src(srcs) for p, srcs in sorted(node_args[nid].items())}
            building.discard(nid)
            node = Delayed(fn, (), kwargs, name=nid)
            built[nid] = node
            return node

        def resolve_src(key: str):
            prefix, _, rest = key.partition(":")
            if prefix == "consts":
                return consts[rest]
            if prefix == "inputs":
                return resolve_input(rest)
            if prefix == "nodes":
                parts = key.split(":")
                # edge-list form nodes:k:outputs:o, node-args form nodes:k:o
                nid = parts[1]
                node = build_node(nid)
                # a named output of a MULTI-output node selects that
                # element (dropping the name would silently hand
                # consumers the whole tuple); single-output nodes pass
                # through whatever the name is
                if len(parts) >= 4 and parts[2] == "outputs":
                    declared = list(doc["nodes"][nid].get("outputs") or [])
                    if len(declared) > 1:
                        oname = parts[3]
                        if oname not in declared:
                            raise ValueError(
                                f"node {nid!r} has no output {oname!r} "
                                f"(declares {declared})"
                            )
                        i = declared.index(oname)
                        return Delayed(
                            operator.getitem, (node, i), {},
                            name=f"{nid}:{oname}",
                        )
                return node
            raise ValueError(f"invalid source key {key!r}")

        def _natkey(k: str):
            # numeric-aware: result_10 must sort after result_2 (a plain
            # lexicographic sort permuted roots for graphs with 11+
            # outputs — silently wrong positional results)
            return [
                int(p) if p.isdigit() else p for p in re.split(r"(\d+)", k)
            ]

        roots = [
            resolve_src(v)
            for _, v in sorted(
                doc.get("outputs", {}).items(), key=lambda kv: _natkey(kv[0])
            )
        ]
        return cls(roots)

    # ---- user-invocable rewrites (reference objects.py:653-932) --------
    # The reference's four rewrites map onto this model as: cull and
    # fuse_sequential below; explode_subgraphs is inherent (@graph traces
    # flat, so there is nothing to explode); stabilize is inherent too —
    # to_json ids come from the deterministic post-order walk, never
    # uuids, so the same graph always serializes with the same node ids.

    def cull(self, keep: list[int] | None = None) -> "TaskGraph":
        """Drop every node not reachable from the kept roots (reference
        objects.py:763-807). ``keep`` selects root indices (default: all).
        Non-mutating — returns a new TaskGraph; because a TaskGraph is
        DEFINED by its roots and every traversal walks from them,
        culling is just re-rooting: nodes feeding only dropped roots
        vanish from compute/to_json/to_dot automatically."""
        roots = self.roots if keep is None else [self.roots[i] for i in keep]
        return TaskGraph(list(roots))

    def fuse_sequential(self) -> "TaskGraph":
        """Fuse linear chains into single composite nodes (reference
        objects.py:809-932): a non-root node consumed by exactly ONE
        other node, all of whose other arguments are constants, is
        merged into its consumer — A→B→C→D becomes A→F where
        F = B∘C∘D. Non-mutating: returns a new TaskGraph over rebuilt
        nodes; results are unchanged (pytest-pinned), only scheduling
        granularity coarsens. Useful when many tiny driver-side nodes
        (e.g. overload arithmetic) would otherwise each pay a wave
        dispatch; DataFrame nodes gain nothing (Catalyst already fuses
        the plans) but lose nothing either. Nodes whose consumer holds
        them inside a container argument are left unfused."""
        roots = set(id(r) for r in self.roots)

        def one_pass(rs: list[Delayed]) -> tuple[list[Delayed], bool]:
            order = _walk(rs)
            consumers: dict[int, list[Delayed]] = {}
            for n in order:
                for d in _node_deps(n):
                    consumers.setdefault(id(d), []).append(n)
            rebuilt: dict[int, Delayed] = {}
            fused_any = False

            def sub(v, mapping):
                if isinstance(v, Delayed):
                    return mapping[id(v)]
                if isinstance(v, list):
                    return [sub(el, mapping) for el in v]
                if isinstance(v, tuple):
                    return tuple(sub(el, mapping) for el in v)
                if isinstance(v, dict):
                    return {k: sub(el, mapping) for k, el in v.items()}
                return v

            for n in order:
                args = tuple(sub(a, rebuilt) for a in n.args)
                kwargs = {k: sub(v, rebuilt) for k, v in n.kwargs.items()}
                # fusable parent: a DIRECT arg that is this node's only
                # consumer use, not a root, and n's only Delayed dep
                direct = [a for a in args if isinstance(a, Delayed)] + [
                    v for v in kwargs.values() if isinstance(v, Delayed)
                ]
                deps = set(id(d) for d in _node_deps(Delayed(n.fn, args, kwargs)))
                parent = None
                if len(deps) == 1 and direct and len(set(id(d) for d in direct)) == 1:
                    cand = direct[0]
                    orig = n.args + tuple(n.kwargs.values())
                    orig_parent = next(
                        (a for a in orig if isinstance(a, Delayed)), None
                    )
                    if (
                        orig_parent is not None
                        and id(orig_parent) not in roots
                        and len(consumers.get(id(orig_parent), [])) == 1
                        # never fuse an external_input placeholder: the
                        # fused closure's fn is no longer _unbound_input,
                        # so compute()'s input binding would miss it and
                        # the closure would raise 'unbound' even for a
                        # bound input
                        and orig_parent.fn is not _unbound_input
                    ):
                        parent = cand
                if parent is not None:
                    fused_any = True
                    cf, ca, ck = n.fn, args, kwargs

                    def make_fused(cf, ca, ck, pnode):
                        def fused(*pa, **pk):
                            pv = pnode.fn(*pa, **pk)
                            fa = [pv if x is pnode else x for x in ca]
                            fk = {k: (pv if v is pnode else v) for k, v in ck.items()}
                            return cf(*fa, **fk)
                        return fused

                    rebuilt[id(n)] = Delayed(
                        make_fused(cf, ca, ck, parent),
                        parent.args,
                        parent.kwargs,
                        name=f"{n.name}({parent.name})",
                    )
                else:
                    rebuilt[id(n)] = Delayed(n.fn, args, kwargs, name=n.name)
            return [rebuilt[id(r)] for r in rs], fused_any

        rs = list(self.roots)
        changed = True
        while changed:  # chains collapse fully (A→B→C→D ⇒ one node per pass edge)
            rs, changed = one_pass(rs)
            roots = set(id(r) for r in rs)
        return TaskGraph(rs)

    def to_dot(self) -> str:
        """GraphViz rendering of the task DAG (the reference's to_dot
        counterpart; plans/jobspec.py renders the physical side)."""
        order = _walk(self.roots)
        ids = {id(n): i for i, n in enumerate(order)}
        lines = ["digraph tasks {", "  rankdir=LR;"]
        for n in order:
            lines.append(f'  n{ids[id(n)]} [label="{n.name}"];')
            for d in _node_deps(n):
                lines.append(f"  n{ids[id(d)]} -> n{ids[id(n)]};")
        lines.append("}")
        return "\n".join(lines)
