"""PEM — Partial-Execution Management (the PEM in IGPM-PEM), deterministic.

The reference's entry point 3 wraps its incremental engine in a DQN that
tunes the recompute-scope knob (community-size threshold) from a reward
of ``100/elapsed`` per step (``incremental/rl_model.py:146-188``,
``gray_incremental.py:214-222``, ``pem_egqp.py:47-86``). SURVEY §3.3's
Spark stance: the RL loop is a tuning controller AROUND the engine, not
an operator — our engine exposes the equivalent knob explicitly (each
bucket refresh's stopping tolerance ``max(tol, eps·n)``: larger ⇒ fewer
supersteps ⇒ less work per step, at a bounded accuracy cost of
``alpha/(1-alpha)·eps·n`` total L1) plus per-superstep lineage metrics,
so the controller can be a deterministic policy instead of a 2×4-unit
DQN.

``PemController`` is that policy: a multiplicative-increase /
multiplicative-decrease rule on ``eps`` driven by each step's wall time
against a target — steps running over budget stop earlier; steps
comfortably under budget spend the slack on accuracy. Wired into
``incremental_pagerank(pem=...)``; every decision is recorded so runs
are reproducible and auditable (the determinism the reference's RL
explicitly lacks — its own seeds vary per run).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class PemController:
    """Deterministic recompute-scope controller.

    ``target_step_sec`` — the per-step latency budget (the reference's
    reward is 100/elapsed: faster steps are better until accuracy pays).
    ``eps`` — current per-vertex tolerance: ``incremental_pagerank`` stops
    each bucket's warm-started exact iteration once the L1 change falls
    below ``max(tol, eps·n)`` (n = vertices), which bounds that bucket's
    L1 error at ``alpha/(1-alpha)·eps·n``.
    """

    target_step_sec: float
    eps: float = 1e-10
    eps_min: float = 1e-14
    eps_max: float = 1e-4
    grow: float = 4.0  # over budget → coarsen (shrink recompute scope)
    shrink: float = 2.0  # well under budget → refine (spend on accuracy)
    history: list[dict] = field(default_factory=list)

    def observe(self, wall_sec: float, active_vertices: int | None = None) -> float:
        """Record one step's wall time; return the eps for the NEXT step."""
        prev = self.eps
        if wall_sec > 1.2 * self.target_step_sec:
            self.eps = min(self.eps * self.grow, self.eps_max)
        elif wall_sec < 0.5 * self.target_step_sec:
            self.eps = max(self.eps / self.shrink, self.eps_min)
        self.history.append(
            {
                "wall_sec": round(float(wall_sec), 4),
                "active_vertices": active_vertices,
                "eps_before": prev,
                "eps_after": self.eps,
            }
        )
        return self.eps
