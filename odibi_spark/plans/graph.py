"""Dependency DAG (reference: odibi/graph.py:34-321): adjacency from
``depends_on``, missing-dependency check, cycle detection, Kahn
toposort, and parallel "execution layers" (all nodes whose deps are
satisfied run concurrently — reference :221-321)."""

from __future__ import annotations

from collections import deque


class GraphError(Exception):
    pass


class DependencyGraph:
    def __init__(self, edges: dict[str, list[str]], external: set[str] | None = None):
        """edges: node -> list of dependencies (incoming).

        ``external``: dependency names satisfied from outside this
        graph (cross-pipeline inputs, reference graph.py:159-219) —
        they are validated by the project layer and excluded from the
        intra-pipeline ordering.
        """
        ext = external or set()
        self.deps = {
            n: [d for d in ds if d not in ext] for n, ds in edges.items()
        }
        missing = {
            d for ds in self.deps.values() for d in ds if d not in self.deps
        }
        if missing:
            raise GraphError(f"missing dependencies: {sorted(missing)}")
        self._check_cycles()

    def _check_cycles(self) -> None:
        WHITE, GRAY, BLACK = 0, 1, 2
        color = dict.fromkeys(self.deps, WHITE)

        def dfs(start: str) -> None:
            stack = [(start, iter(self.deps[start]))]
            color[start] = GRAY
            path = [start]
            while stack:
                node, it = stack[-1]
                advanced = False
                for dep in it:
                    if color[dep] == GRAY:
                        cycle = " -> ".join([*path, dep])
                        raise GraphError(f"dependency cycle: {cycle}")
                    if color[dep] == WHITE:
                        color[dep] = GRAY
                        stack.append((dep, iter(self.deps[dep])))
                        path.append(dep)
                        advanced = True
                        break
                if not advanced:
                    color[node] = BLACK
                    stack.pop()
                    path.pop()

        for n in self.deps:
            if color[n] == WHITE:
                dfs(n)

    def toposort(self) -> list[str]:
        indeg = {n: len(ds) for n, ds in self.deps.items()}
        consumers: dict[str, list[str]] = {n: [] for n in self.deps}
        for n, ds in self.deps.items():
            for d in ds:
                consumers[d].append(n)
        q = deque(sorted(n for n, k in indeg.items() if k == 0))
        out = []
        while q:
            n = q.popleft()
            out.append(n)
            for c in sorted(consumers[n]):
                indeg[c] -= 1
                if indeg[c] == 0:
                    q.append(c)
        if len(out) != len(self.deps):
            raise GraphError("cycle detected during toposort")
        return out

    def layers(self) -> list[list[str]]:
        """Nodes grouped by earliest possible execution wave."""
        level: dict[str, int] = {}
        for n in self.toposort():
            level[n] = 1 + max((level[d] for d in self.deps[n]), default=-1)
        out: list[list[str]] = [[] for _ in range(max(level.values(), default=-1) + 1)]
        for n, lv in level.items():
            out[lv].append(n)
        return [sorted(layer) for layer in out]

    def consumers_count(self) -> dict[str, int]:
        """How many nodes consume each node — drives where a run
        materializes node frames, including the auto-caching of
        multiply-consumed outputs (reference: pipeline.py:1843-1908)."""
        counts = dict.fromkeys(self.deps, 0)
        for ds in self.deps.values():
            for d in ds:
                counts[d] += 1
        return counts
