from . import events

__all__ = ["events"]
