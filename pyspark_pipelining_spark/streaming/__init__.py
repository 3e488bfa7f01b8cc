"""Event-time sessionization (:mod:`.stateful`), run by the registered
``sessionize`` query."""
