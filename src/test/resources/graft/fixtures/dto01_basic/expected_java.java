import com.fasterxml.jackson.annotation.JsonProperty;
import com.fasterxml.jackson.databind.JsonNode;
import java.util.Optional;

class RecordUser {
    public Long id;
    public Optional<String> email;
}

public class Record {
    public Long id;
    public Optional<String> name;
    public Double price;
    public Boolean active;
    public Optional<JsonNode> tags;
    public RecordUser user;
    @JsonProperty("display-name")
    public String displayName;
}
